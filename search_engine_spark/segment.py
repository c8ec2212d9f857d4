"""Driver-side reader of one index segment's ``chunks`` stage (parquet
layout) — the pyarrow view every driver-side query path shares.

The chunks stage is hive-partitioned by term bucket, and every file is
sorted by (term, salt, chunk_seq): the build's sort key starts with
``bucket``, so Spark's partitioned writer keeps the order. A
:class:`SegmentReader` lists the bucket files once and pins the files
it reads, up to a byte cap: each read whole, payloads included, as one
record batch with a :class:`TermRuns` index of where its terms' rows
lie, so a term's rows are a zero-copy slice. ``search_local``, the
driver-planned ``search()``/``batch_search`` metadata read and their
payload decodes (:meth:`SegmentReader.decode_keys`) all read through
it. A pinned file is shared: readers over the same immutable file hold
one copy per process (:func:`pinned`), which leaves memory when no
reader holds it. A file written before the build sorted this way is
sorted once, when it is pinned. A reader evicts nothing: once it holds
its byte cap, files it does not hold are streamed with the term filter
pushed down, as are files with more rows than the planners' metadata
cap and, in a capped read, files past the cap's worth of rows. The
reader also decodes chunk payloads
(tombstone-masked, per reader) into a count-capped cache.
:class:`ChunkRows` holds one term set's chunk rows together with the
per-term block-max metadata (``wand.TermChunks`` + lexicon stats)
that ``search_local``, the driver-planned ``search()``/``batch_search``
and the Spark-collected metadata fallback all plan from.

The index an engine serves is immutable (mutations reopen the engine),
so nothing cached here goes stale; a file rewritten in place has a new
pinned-copy key.
"""

from __future__ import annotations

import glob
import os
import re
import threading
import weakref

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
    sorted ``[(term, salt, sorted chunk_seqs)]`` — the grouping of the
    Spark key predicate (:func:`keys_sql`)."""
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


class ChunkRows:
    """Chunk rows of one term set (a pyarrow table, one row per chunk)
    plus what the planners read from them: ``metas`` (term ->
    ``wand.TermChunks`` whose ``rows`` index this table), ``lex``
    (term -> df under ``df_of``, n_chunks, doc-id span) and
    ``raw_df`` (segment-local df).

    ``scale_max``/``scale_min`` rescale the stored ratio bounds under a
    foreign avgdl (see ``QueryEngine.__init__``)."""

    def __init__(self, tbl, n_docs: int, df_of, scale_max: float,
                 scale_min: float):
        import pyarrow.compute as pc

        self.table = tbl
        self.n_rows = tbl.num_rows
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
            "first_doc_id", "last_doc_id", "n", "max_ratio", "min_ratio",
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


# width of a TermRuns key: longer terms keep a KEY_BYTES-byte prefix
# (equal prefixes are told apart by the file's own term column), so one
# long token cannot widen every key of its file
KEY_BYTES = 32


def term_keys(terms) -> np.ndarray:
    """Strings (a pyarrow string array or a list of str) as numpy
    fixed-width bytes: each UTF-8 value followed by one 0xff byte, cut
    to at most KEY_BYTES bytes. numpy ``S`` drops trailing NULs, so
    without the terminator "ab" and "ab\\x00" would compare equal; 0xff
    occurs in no UTF-8 text, so a key that holds it is exact and no cut
    key equals an exact one. Built from the Arrow buffers, with no
    Python object per value."""
    import pyarrow as pa

    if isinstance(terms, list):
        return np.array(
            [t.encode() + b"\xff" for t in terms], dtype=f"S{KEY_BYTES}"
        )
    arr = terms.cast(pa.large_binary())
    n = len(arr)
    offs = np.frombuffer(arr.buffers()[1], np.int64)[
        arr.offset:arr.offset + n + 1
    ]
    lens = np.diff(offs)
    width = min(int(lens.max(initial=0)) + 1, KEY_BYTES)
    used = np.minimum(lens, width)
    out = np.zeros((n, width), np.uint8)
    row = np.repeat(np.arange(n), used)
    col = np.arange(len(row)) - np.repeat(np.cumsum(used) - used, used)
    data = np.frombuffer(arr.buffers()[2], np.uint8)
    out[row, col] = data[np.repeat(offs[:-1], used) + col]
    short = lens < width
    out[short, lens[short]] = 0xFF
    return out.view(f"S{width}").ravel()


class TermRuns:
    """Term run index of one file's rows, grouped by term: every
    distinct term's key (:func:`term_keys`, in numpy order) with the
    first and one-past-last row of its run, so a term's rows are found
    by ``searchsorted`` and returned as a zero-copy slice instead of a
    filter over every row. Arrays only: one Python object per term
    raised the serving driver's resident memory by 8-10%."""

    def __init__(self, term):
        import pyarrow.compute as pc

        n = len(term)
        first = np.ones(n, bool)
        first[1:] = pc.not_equal(term[1:], term[:-1]).to_numpy(
            zero_copy_only=False
        )
        start = np.flatnonzero(first)
        end = np.append(start[1:], n)[: len(start)]
        keys = term_keys(term.take(start))
        order = np.argsort(keys, kind="stable")
        self.keys = keys[order]
        self.start = start[order]
        self.end = end[order]
        self.nbytes = self.keys.nbytes + self.start.nbytes + self.end.nbytes

    def slices(self, batch, terms: list[str], keys: np.ndarray) -> list:
        """The runs of the distinct ``terms`` (``keys`` their
        :func:`term_keys`) in ``batch`` as zero-copy slices, in row
        order; a term absent from the file has none. A query's terms are
        spread over buckets, so a file is asked for one or two terms and
        a scalar lookup per term is the cheapest."""
        runs = []
        for t, key in zip(terms, keys):
            lo = int(self.keys.searchsorted(key))
            if lo == len(self.keys) or self.keys[lo] != key:
                continue
            if key.endswith(b"\xff"):  # exact key: one run
                runs.append((int(self.start[lo]), int(self.end[lo])))
                continue
            hi = int(self.keys.searchsorted(key, side="right"))
            term = batch.column("term")
            runs += [
                (int(self.start[j]), int(self.end[j]))
                for j in range(lo, hi)
                if term[int(self.start[j])].as_py() == t
            ]
        return [batch.slice(lo, hi - lo) for lo, hi in sorted(runs)]


class PinnedFile:
    """One chunk file read whole: its rows (payloads included) as one
    term-sorted record batch, with their :class:`TermRuns` index."""

    __slots__ = ("batch", "runs", "nbytes", "__weakref__")

    def __init__(self, batch, runs: TermRuns):
        self.batch = batch
        self.runs = runs
        self.nbytes = batch.nbytes + runs.nbytes


# the one pinned copy of each chunk file in this process, keyed by the
# file's identity (path, st_mtime_ns, st_size): readers over the same
# immutable file share it, a file rewritten in place gets a new key, and
# a copy leaves memory when no reader holds it any more
_PINNED: "weakref.WeakValueDictionary[tuple, PinnedFile]" = (
    weakref.WeakValueDictionary()
)
_PINNED_LOCK = threading.Lock()


def read_pinned(path: str) -> PinnedFile:
    """Read one chunk file whole. A file whose rows are not in term
    order (written before the build kept that order) is sorted by
    (term, salt, chunk_seq) here, once."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=META_COLS + PAYLOAD_COLS)
    term = tbl.column("term")
    if len(term) > 1 and pc.any(pc.less(term[1:], term[:-1])).as_py():
        tbl = tbl.sort_by(
            [(c, "ascending") for c in ("term", "salt", "chunk_seq")]
        )
    batches = tbl.combine_chunks().to_batches()
    batch = batches[0] if batches else pa.RecordBatch.from_pylist(
        [], schema=tbl.schema
    )
    return PinnedFile(batch, TermRuns(batch.column("term")))


def pinned(path: str) -> PinnedFile:
    """The process's pinned copy of the chunk file ``path``, read
    (:func:`read_pinned`) only when no live reader holds it. Two threads
    missing at once may both read; one copy is kept."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    with _PINNED_LOCK:
        got = _PINNED.get(key)
    if got is None:
        got = read_pinned(path)
        with _PINNED_LOCK:
            got = _PINNED.setdefault(key, got)
    return got


class SegmentReader:
    """The driver's pyarrow reader of one parquet segment's chunks: the
    bucket file listing; the files it pins (:meth:`table`), held for the
    reader's life and admitted while it holds less than
    ``SE_LOCAL_CACHE_MB`` (default 512; charged with the full size of
    every file it holds, shared or not), so the cap is passed by at most
    one file; the decoded-chunk cache and the tombstone mask
    (``deleted``: sorted int64 doc ids, or None), both this reader's
    own, since decoded postings are masked by its engine's deletes."""

    def __init__(self, index_dir: str, bucket_count: int,
                 deleted: np.ndarray | None, pin_rows: int):
        self.index_dir = index_dir
        self.bucket_count = bucket_count
        self.deleted = deleted
        self.pin_rows = pin_rows
        self.cap_bytes = int(os.environ.get("SE_LOCAL_CACHE_MB", "512")) << 20
        self._by_bucket: dict[int, list[str]] | None = None
        self._schema = None  # pyarrow schema of the data files
        self._n_rows: dict[str, int] = {}  # footer row count per file
        # one pyarrow dataset per streamed file, built on first read: a
        # dataset re-discovers its file and footer when rebuilt
        self._datasets: dict = {}
        self._tables: dict[str, PinnedFile] = {}
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

    def table(self, terms: list[str], cap: int | None = None,
              payloads: bool = True):
        """The chunk rows of ``terms`` as one pyarrow table (bucket by
        bucket, file by file, each file's rows in (term, salt, chunk_seq)
        order), carrying the payload columns unless ``payloads`` is
        False; None for an index without data files, or as soon as more
        than ``cap`` rows have been read.

        A pinned file serves each term's run as a zero-copy slice (its
        :class:`TermRuns` index), with no scan of its other rows. Another
        file is pinned when :meth:`_admits` it, else streamed with the
        term filter pushed down and dropped after use (re-reading whole
        the files an evicting cache drops made ``search()`` ~1.75x
        slower than streaming them: a 27 MB pinned index under a 2-8 MB
        cap, 4-core host). So an above-cap term set (a stop word owning
        ~10^8 chunks) costs the driver at most ``cap`` rows of files it
        pins plus ``cap`` rows and one record batch streamed, never its
        whole metadata."""
        import pyarrow as pa
        import pyarrow.dataset as pa_ds

        if not self.has_data:
            return None
        cols = META_COLS + (PAYLOAD_COLS if payloads else [])
        by_bucket = self._listing()
        of_bucket: dict[int, list[str]] = {}
        for t in dict.fromkeys(terms):
            of_bucket.setdefault(term_bucket(t, self.bucket_count), []).append(t)
        batches, n_rows, pinned_rows = [], 0, 0
        for b in sorted(of_bucket):
            bterms = of_bucket[b]
            keys = term_keys(bterms)
            for path in by_bucket.get(b, ()):
                pf = self._tables.get(path)
                if pf is None and self._admits(path, cap, pinned_rows):
                    pf = self._tables[path] = pinned(path)
                    self._bytes += pf.nbytes
                    pinned_rows += self.file_rows(path)
                if pf is not None:
                    batch = pf.batch if payloads else pf.batch.select(cols)
                    parts = pf.runs.slices(batch, bterms, keys)
                else:
                    parts = self._read(
                        [path], cols, pa_ds.field("term").isin(bterms)
                    )
                for part in parts:
                    n_rows += part.num_rows
                    if cap is not None and n_rows > cap:
                        return None
                    batches.append(part)
        schema = pa.schema([self._schema.field(c) for c in cols])
        return pa.Table.from_batches(batches, schema)

    def file_rows(self, path: str) -> int:
        """Row count of one data file, from its footer (read once)."""
        n = self._n_rows.get(path)
        if n is None:
            import pyarrow.parquet as pq

            n = self._n_rows[path] = pq.read_metadata(path).num_rows
        return n

    def _admits(self, path: str, cap: int | None, pinned_rows: int) -> bool:
        """Whether :meth:`table` pins ``path``: a file of at most
        ``pin_rows`` rows, while this reader holds less than its byte
        cap and, under the read's ``cap``, while the files the read has
        pinned hold at most ``cap`` rows with it."""
        n = self.file_rows(path)
        return (
            n <= self.pin_rows and self._bytes < self.cap_bytes
            and (cap is None or pinned_rows + n <= cap)
        )

    def _read(self, paths: list[str], cols: list[str], expr):
        """Rows of ``paths`` matching the pyarrow filter ``expr``,
        streamed one file and one record batch at a time: a caller may
        stop early, and one multi-file dataset scan of the same 112
        files left the process ~9 MB more resident memory than per-file
        reads (pyarrow 16)."""
        import pyarrow.dataset as pa_ds

        for path in paths:
            ds = self._datasets.get(path)
            if ds is None:
                ds = self._datasets[path] = pa_ds.dataset(
                    path, format="parquet"
                )
            for batch in ds.to_batches(columns=cols, filter=expr):
                if batch.num_rows:
                    yield batch

    def _decode(self, payload, codec, dls_raw) -> tuple:
        ids, tfs = codecs.decode_chunk(payload, int(codec))
        dls = codecs.decode_lengths(dls_raw)
        ids = ids.astype(np.int64)
        keep = wand.tombstone_mask(ids, self.deleted)
        if keep is not None:
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
        with payloads), tombstoned ids masked."""
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
        found: from the decoded cache, else picked from the rows of the
        keys' terms (:meth:`table`: slices of pinned files, or a
        streamed read of a file too large to pin) and decoded, only the
        requested keys. The planners hold the terms' chunk count to
        METADATA_CAP."""
        import pyarrow as pa

        out: dict[tuple, tuple] = {}
        missing: set[tuple] = set()
        for key in keys:
            got = self.decoded.get(key)
            if got is not None:
                out[key] = got
            else:
                missing.add(key)
        if not missing or not self.has_data:
            return out
        terms = sorted({t for t, _s, _c in missing})
        for batch in self.table(terms).to_batches():
            codec, payload, dls = (batch.column(c) for c in PAYLOAD_COLS)
            found = zip(
                batch.column("term").to_pylist(),
                batch.column("salt").to_pylist(),
                batch.column("chunk_seq").to_pylist(),
            )
            for i, key in enumerate(found):
                if key in missing:
                    out[key] = self._remember(key, self._decode(
                        payload[i].as_py(), codec[i].as_py(), dls[i].as_py()
                    ))
        if any(p not in self._tables for p in self._paths(terms)):
            # a streamed read's transient buffers (every payload of the
            # rows read) go back to the OS now: left to jemalloc's lazy
            # decay, their purge lands in the next Arrow allocations —
            # measured as +11% to +29% on the search_local ops that
            # follow a driver-scored search() (perfbench serve, 3
            # seeds, 4-core host)
            pa.default_memory_pool().release_unused()
        return out
