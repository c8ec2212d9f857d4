"""Driver-side reader of one index segment's ``chunks`` stage (parquet
layout) — the numpy view every driver-side query path shares.

The chunks stage is hive-partitioned by term bucket. A build keeps each
term's rows in one file, as one run sorted by (salt, chunk_seq), which
is doc-id order: it range-partitions the encoded rows on (bucket, term)
before the write, and the write's sort key starts with ``bucket``, so
Spark's partitioned writer keeps the order. An index written before
that (one file per salt range, each holding every term of its bucket),
or merged map-only from several sources, spreads a term over several
files; the reader serves it the same way, one part per file.

A :class:`SegmentReader` lists the bucket files once and pins the files
it reads, up to a byte cap. A pinned file (:class:`FileRows`) is read
whole: its metadata columns as numpy arrays and a :class:`TermRuns`
index of where its terms' runs lie, so a term's chunk rows are array
slices. Its postings are decoded on demand: the rows one read asks
for, chunk by chunk or, for many rows, in one
:func:`codecs.decode_chunk_batch` call per file, until the work spent
that way reaches the work of decoding the whole file; then the whole
file is decoded once into flat ``doc_ids``, ``tfs`` and ``dls`` arrays
and its payload bytes are dropped. From then on a term's postings are
one slice of those arrays (or one gather, for a subset of its chunks),
decoded by no query. So a file read often is decoded whole, and a cold
query (a fresh process, or files read rarely) decodes only the chunks
it reads. The rows one read streams are decoded the same way, for that
read only.

Pinned files are shared: readers over the same immutable file hold one
copy per process (:func:`pinned`), decoded or not, which leaves memory
when no reader holds it. A file written before the build sorted by term
is sorted once, when it is pinned. A reader evicts nothing: once it
holds its byte cap (counting a decoded file at its decoded size), files
it does not hold are streamed with the term filter pushed down, as are
files with more rows than the planners' metadata cap and, in a capped
read, files past the cap's worth of rows; the rows one read streams
(only its terms' rows) are dropped after it.

:meth:`SegmentReader.rows` returns one term set's rows as
:class:`ChunkRows`, which every driver path reads: the driver's top-k
of ``search_local``, ``search()`` and ``batch_search``, and the Spark
route's batch planner (metadata only). :meth:`ChunkRows.gather` hands
out one term's postings for many rows at once, masked with its
reader's tombstones (per engine: the shared copy holds every posting),
and :meth:`ChunkRows.plan` adds the per-term block-max metadata
(``wand.TermChunks`` + lexicon stats) the planners work from, which the
Spark-collected metadata of an Iceberg index feeds too.

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
from typing import NamedTuple

import numpy as np

from . import codecs, wand
from .build import term_bucket

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
    """Term run index of the rows of one file, grouped by term (its
    ``term`` column): every distinct term's key (:func:`term_keys`, in
    numpy order) with the first and one-past-last row of its run, so a
    term's rows are found by ``searchsorted`` instead of a filter over
    every row. Arrays only: one Python object per term raised the
    serving driver's resident memory by 8-10%."""

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
        self.term = term
        self.keys = keys[order]
        self.start = start[order]
        self.end = end[order]
        self.nbytes = self.keys.nbytes + self.start.nbytes + self.end.nbytes

    def find(self, terms: list[str], keys: np.ndarray) -> list:
        """The runs ``(t, first row, end row)`` of the distinct ``terms``
        (``keys`` their :func:`term_keys`), in row order; a term absent
        from the file has none. A query's terms are spread over buckets,
        so a file is asked for one or two terms and a scalar lookup per
        term is the cheapest."""
        runs = []
        for t, key in zip(terms, keys):
            lo = int(self.keys.searchsorted(key))
            if lo == len(self.keys) or self.keys[lo] != key:
                continue
            if key.endswith(b"\xff"):  # exact key: one run
                runs.append((int(self.start[lo]), int(self.end[lo]), t))
                continue
            hi = int(self.keys.searchsorted(key, side="right"))
            runs += [
                (int(self.start[j]), int(self.end[j]), t)
                for j in range(lo, hi)
                if self.term[int(self.start[j])].as_py() == t
            ]
        return [(t, lo, hi) for lo, hi, t in sorted(runs)]


def _narrow(vals: np.ndarray) -> np.ndarray:
    """Non-negative counts in the narrowest unsigned type that holds
    them all: tfs and doc lengths mostly fit 8 or 16 bits."""
    top = int(vals.max()) if len(vals) else 0
    for bits, dt in ((8, np.uint8), (16, np.uint16), (32, np.uint32)):
        if top >> bits == 0:
            return vals.astype(dt)
    return vals


# decode work, in per-chunk decodes (codecs.decode_chunk plus
# decode_lengths of one full 128-posting chunk, ~70 us on a 4-core
# host): one codecs.decode_chunk_batch call costs about BATCH_CALL of
# them, plus one per BATCH_ROWS rows it decodes (~0.4 ms, and ~1.6 ms
# for a file of 1,647 chunks, on that host)
BATCH_CALL, BATCH_ROWS = 6, 100


def decode_cost(rows: int) -> float:
    """The work of decoding ``rows`` chunks the cheaper way."""
    return min(rows, BATCH_CALL + rows / BATCH_ROWS)


class Coded(NamedTuple):
    """Postings of a file's rows as stored: its Arrow ``payload``,
    ``codec`` and ``dls`` columns."""
    payload: object
    codec: object
    dls: object

    def rows(self, idx: np.ndarray) -> "Decoded":
        """The rows ``idx`` (sorted, distinct) decoded, one chunk at a
        time when that is the cheaper way (:func:`decode_cost`), else in
        one batch."""
        import pyarrow as pa

        if decode_cost(len(idx)) < len(idx):
            cols = self
            if len(idx) < len(self.payload):
                take = pa.array(idx)
                cols = [c.take(take) for c in self]
            ids, tfs, dls, offsets = codecs.decode_chunk_batch(*cols)
        else:
            got = [
                codecs.decode_chunk(
                    self.payload[r].as_py(), self.codec[r].as_py()
                ) + (codecs.decode_lengths(self.dls[r].as_py()),)
                for r in idx.tolist()
            ]
            offsets = np.zeros(len(got) + 1, dtype=np.int64)
            np.cumsum([len(g[0]) for g in got], out=offsets[1:])
            ids, tfs, dls = (
                np.concatenate([g[i] for g in got]) if got
                else np.zeros(0, np.uint64)
                for i in range(3)
            )
        return Decoded(
            ids.view(np.int64), _narrow(tfs), _narrow(dls), offsets
        )


class Decoded(NamedTuple):
    """Postings of a file's rows decoded: flat ``doc_ids`` (int64),
    ``tfs`` and ``dls`` (:func:`_narrow`), row ``r`` at ``[offsets[r],
    offsets[r + 1])``."""
    doc_ids: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray
    offsets: np.ndarray

    def row(self, r: int) -> tuple:
        """Row ``r``'s (doc_ids, tfs, dls), as slices."""
        lo, hi = self.offsets[r], self.offsets[r + 1]
        return self.doc_ids[lo:hi], self.tfs[lo:hi], self.dls[lo:hi]

    def take(self, rows: np.ndarray) -> tuple:
        """The (doc_ids, tfs, dls) of ``rows`` concatenated in their
        order: one slice when they are adjacent rows in ascending order,
        else one gather."""
        lo = self.offsets[rows]
        hi = self.offsets[rows + 1]
        if (np.diff(rows) == 1).all():
            sel = slice(lo[0], hi[-1])
        else:
            lens = hi - lo
            ends = np.cumsum(lens)
            sel = np.repeat(lo - ends + lens, lens) + np.arange(ends[-1])
        return self.doc_ids[sel], self.tfs[sel], self.dls[sel]


# FileRows.mats: the metadata columns, one matrix per on-disk type
MAT_COLS = (
    (("first_doc_id", "last_doc_id"), np.int64),
    (("salt", "chunk_seq", "n"), np.int32),
    (("max_ratio", "min_ratio"), np.float64),
)


class FileRows:
    """Chunk rows of one file, or of one streamed read of it, as numpy
    arrays: ``term`` (the Arrow term column), ``mats`` (one matrix per
    :data:`MAT_COLS` group, one row per column) and, when read with
    the payload columns, ``post``: the rows' postings,
    :class:`Coded` until :meth:`decode` makes them :class:`Decoded` and
    drops the payload bytes (None without payload columns). ``runs``:
    the :class:`TermRuns` index of a pinned file; ``spent``: the decode
    work :meth:`ChunkRows.fetch` has spent on its rows piecemeal;
    ``readers``: the :class:`SegmentReader` s that hold it, whose byte
    counts :meth:`decode` updates."""

    __slots__ = (
        "term", "mats", "post", "runs", "spent", "readers", "__weakref__",
    )

    def __init__(self, batch, runs: TermRuns | None = None):
        n = batch.num_rows
        self.mats = []
        for cols, dtype in MAT_COLS:
            mat = np.zeros((len(cols), n), dtype=dtype)
            for i, c in enumerate(cols):
                mat[i] = batch.column(c).to_numpy(zero_copy_only=False)
            self.mats.append(mat)
        self.post = None
        if "payload" in batch.schema.names:
            self.post = Coded(*(
                batch.column(c) for c in ("payload", "codec", "dls")
            ))
        self.term = batch.column("term")
        self.runs = runs
        self.spent = 0
        self.readers = weakref.WeakSet()

    @property
    def nbytes(self) -> int:
        """Bytes held now (they change once when :meth:`decode` runs)."""
        arrays = (*self.mats, self.term, *(self.post or ()))
        return sum(a.nbytes for a in arrays) + (
            self.runs.nbytes if self.runs else 0
        )

    def decode(self) -> None:
        """Decode every row's postings at once, drop the payloads and add
        the change in :attr:`nbytes` to every reader holding this file.
        ``post`` is replaced whole, so a concurrent reader sees either
        state; two threads decoding at once both get the same answer."""
        post = self.post
        if isinstance(post, Coded):
            got = post.rows(np.arange(len(self.term)))
            if self.post is not post:
                return  # another thread decoded it meanwhile
            before = self.nbytes
            self.post = got
            grown = self.nbytes - before
            for reader in list(self.readers):
                reader.held_bytes += grown

    def parts(self, terms: list[str]) -> list:
        """These rows as :class:`Part` s of ``terms``, when they are rows
        of those terms only (a read with the term filter pushed down)."""
        import pyarrow.compute as pc

        n = len(self.term)
        if len(terms) == 1:
            return [Part(terms[0], self, slice(0, n), n)] if n else []
        out = []
        for t in terms:
            idx = np.flatnonzero(
                pc.equal(self.term, t).to_numpy(zero_copy_only=False)
            )
            if len(idx):
                out.append(Part(t, self, idx, len(idx)))
        return out


class Part:
    """The rows ``sel`` (a slice or an index array, ``n`` rows) of one
    term ``term`` in one :class:`FileRows` ``src``."""

    __slots__ = ("term", "src", "sel", "n")

    def __init__(self, term: str, src: FileRows, sel, n: int):
        self.term = term
        self.src = src
        self.sel = sel
        self.n = n


class ChunkRows:
    """The chunk rows of one term set, numbered term by term (in sorted
    term order; ``span``: term -> its (first, end) rows), as numpy
    arrays (``salt``, ``seq``, ``first``, ``last``, ``n``, ``max_ratio``,
    ``min_ratio``) and, when read with postings, their postings
    (:meth:`gather`), masked with ``deleted`` (sorted int64 doc ids, or
    None). The driver's top-k (``QueryEngine._local_topk``) reads
    postings by :meth:`gather` of a term's chunk rows, which
    ``wand.TermChunks.rows`` hold.

    :meth:`plan` adds what the planners read: ``metas`` (term ->
    ``wand.TermChunks`` whose ``rows`` index these rows), ``lex`` (term
    -> df under ``df_of``, n_chunks, doc-id span) and ``raw_df``
    (segment-local df); the Spark route's batch planner turns rows into
    (term, salt, chunk_seq) keys (:meth:`cover_keys`)."""

    def __init__(self, parts: list[Part], deleted: np.ndarray | None = None):
        by_term: dict[str, list[Part]] = {}
        for p in parts:
            by_term.setdefault(p.term, []).append(p)
        self.terms = sorted(by_term)
        parts = [p for t in self.terms for p in by_term[t]]
        self.deleted = deleted
        sizes = [sum(p.n for p in by_term[t]) for t in self.terms]
        ends = np.cumsum(sizes, dtype=np.int64)
        self.n_rows = int(ends[-1]) if len(ends) else 0
        self.span = {
            t: (int(e - m), int(e)) for t, m, e in zip(self.terms, sizes, ends)
        }
        self._code = np.repeat(np.arange(len(self.terms)), sizes)
        if len(parts) == 1:
            mats = [m[:, parts[0].sel] for m in parts[0].src.mats]
        elif parts:
            mats = [
                np.concatenate([p.src.mats[g][:, p.sel] for p in parts], 1)
                for g in range(len(MAT_COLS))
            ]
        else:
            mats = [np.zeros((len(c), 0), dt) for c, dt in MAT_COLS]
        ((self.first, self.last), (self.salt, self.seq, self.n),
         (self.max_ratio, self.min_ratio)) = mats
        self._srcs = None
        if parts and all(p.src.post is not None for p in parts):
            self._srcs = [p.src for p in parts]
            self._part = np.repeat(np.arange(len(parts)), [p.n for p in parts])
            # each row's row in its FileRows
            firsts = np.cumsum([0] + [p.n for p in parts[:-1]])
            self._srow = np.arange(self.n_rows) + np.repeat([
                p.sel.start - f if isinstance(p.sel, slice) else 0
                for p, f in zip(parts, firsts.tolist())
            ], [p.n for p in parts])
            for p, f in zip(parts, firsts.tolist()):
                if not isinstance(p.sel, slice):
                    self._srow[f:f + p.n] = p.sel
        self._fetched: dict[int, tuple] = {}  # row -> postings fetch() decoded
        self.metas: dict[str, wand.TermChunks] = {}
        self.lex: dict[str, dict] = {}
        self.raw_df: dict[str, int] = {}

    def plan(self, n_docs: int, df_of, scale_max: float,
             scale_min: float) -> "ChunkRows":
        """Fill ``metas``, ``lex`` and ``raw_df``; ``scale_max``/
        ``scale_min`` rescale the stored ratio bounds under a foreign
        avgdl (see ``QueryEngine.__init__``). Returns self."""
        for t in self.terms:
            lo, hi = self.span[t]
            n = self.n[lo:hi]
            raw = int(n.sum())
            df = df_of(t, raw)
            first, last = self.first[lo:hi], self.last[lo:hi]
            self.raw_df[t] = raw
            self.lex[t] = {
                "df": df,
                "n_chunks": hi - lo,
                "min_doc_id": int(first.min()),
                "max_doc_id": int(last.max()),
            }
            self.metas[t] = wand.TermChunks(
                first=first,
                last=last,
                n=n,
                bound=wand.term_chunk_bounds(
                    wand.idf(df, n_docs),
                    self.max_ratio[lo:hi] * scale_max,
                    self.min_ratio[lo:hi] * scale_min,
                ),
                rows=np.arange(lo, hi),
            )
        return self

    def key(self, row: int) -> tuple[str, int, int]:
        """(term, salt, chunk_seq) of one row."""
        return (
            self.terms[self._code[row]], int(self.salt[row]),
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

    def fetch(self, rows) -> None:
        """Decode the postings of those of ``rows`` whose file is not
        decoded, together per file (:meth:`Coded.rows`), for
        :meth:`gather` to serve during this read."""
        by_src: dict[FileRows, list[int]] = {}
        for row in dict.fromkeys(int(r) for r in rows):
            src = self._srcs[self._part[row]]
            if isinstance(src.post, Coded) and row not in self._fetched:
                by_src.setdefault(src, []).append(row)
        for src, want in by_src.items():
            # the work of decoding rows piecemeal is charged to their
            # FileRows (a pinned file, or this read's streamed rows);
            # once it reaches the work of decoding them all, that is
            # done instead (ski rental: at most about twice the work of
            # the better of the two)
            src.spent += decode_cost(len(want))
            if src.spent >= decode_cost(len(src.term)):
                src.decode()
            post = src.post
            if not isinstance(post, Coded):
                continue  # decoded whole
            srows = self._srow[want]
            order = np.argsort(srows)
            got = post.rows(srows[order])
            for j, i in enumerate(order.tolist()):
                self._fetched[want[i]] = got.row(j)

    def gather(self, rows) -> tuple:
        """(doc_ids int64, tfs, doc_lengths) of ``rows`` (at least one)
        concatenated in their order (one term's rows in doc-id order
        give its postings in doc-id order), tombstoned ids masked once.
        Rows of files not yet decoded are decoded first, together per
        file (:meth:`fetch`); then each run of rows in one part is one
        slice or one gather of its file's decoded arrays."""
        rows = np.asarray(rows, dtype=np.int64)
        part = self._part[rows]
        cuts = np.flatnonzero(part[1:] != part[:-1]) + 1
        coded = [
            p for p in part[np.append(0, cuts)].tolist()
            if isinstance(self._srcs[p].post, Coded)
        ]
        if coded:
            self.fetch(rows[np.isin(part, coded)])
        got = []
        for run in np.split(rows, cuts):
            post = self._srcs[self._part[run[0]]].post
            if isinstance(post, Decoded):
                got.append(post.take(self._srow[run]))
            else:  # rows fetch() decoded for this read
                got += [self._fetched[r] for r in run.tolist()]
        ids, tfs, dls = got[0] if len(got) == 1 else (
            np.concatenate([g[i] for g in got]) for i in range(3)
        )
        keep = wand.tombstone_mask(ids, self.deleted)
        if keep is not None:
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        return ids, tfs, dls


# the one pinned copy of each chunk file in this process, keyed by the
# file's identity (path, st_mtime_ns, st_size): readers over the same
# immutable file share it, a file rewritten in place gets a new key, and
# a copy leaves memory when no reader holds it any more
_PINNED: "weakref.WeakValueDictionary[tuple, FileRows]" = (
    weakref.WeakValueDictionary()
)
_PINNED_LOCK = threading.Lock()


def read_pinned(path: str) -> FileRows:
    """Read one chunk file whole, its postings still encoded (see
    :meth:`ChunkRows.fetch`). A file whose rows are not in term order
    (written before the build kept that order) is sorted by (term, salt,
    chunk_seq) here, once."""
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
    return FileRows(batch, TermRuns(batch.column("term")))


def pinned(path: str) -> FileRows:
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
    """The driver's reader of one parquet segment's chunks: the bucket
    file listing; the files it pins (:meth:`rows`), held for the
    reader's life and admitted while it holds less than
    ``SE_LOCAL_CACHE_MB`` (default 512; charged with the full size of
    every file it holds, shared or not), so the cap is passed by at most
    one file; and the tombstone mask (``deleted``: sorted int64 doc ids,
    or None) its :class:`ChunkRows` apply, its engine's own."""

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
        self._tables: dict[str, FileRows] = {}  # path -> pinned file
        self.held_bytes = 0  # of the files held, kept by FileRows.decode

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

    def streams(self, terms: list[str]) -> bool:
        """Whether a read of ``terms`` streams a file this reader does
        not hold."""
        return any(p not in self._tables for p in self._paths(terms))

    def rows(self, terms: list[str], cap: int | None = None,
             postings: bool = True) -> ChunkRows | None:
        """The chunk rows of ``terms`` (:class:`ChunkRows`, with their
        postings unless ``postings`` is False); None for an index
        without data files, or as soon as more than ``cap`` rows have
        been read.

        A pinned file serves each term's run as array slices (its
        :class:`TermRuns` index), with no scan of its other rows. Another
        file is pinned when :meth:`_admits` it, else streamed with the
        term filter pushed down; the rows one read streams are dropped
        after use (re-reading whole the files an evicting cache drops
        made ``search()`` ~1.75x slower than streaming them: a 27 MB
        pinned index under a 2-8 MB cap, 4-core host). So an above-cap
        term set (a stop word owning ~10^8 chunks) costs the driver at
        most ``cap`` rows of files it pins plus ``cap`` rows and one
        record batch streamed, never its whole metadata."""
        import pyarrow as pa
        import pyarrow.dataset as pa_ds

        if not self.has_data:
            return None
        cols = META_COLS + (PAYLOAD_COLS if postings else [])
        by_bucket = self._listing()
        of_bucket: dict[int, list[str]] = {}
        for t in dict.fromkeys(terms):
            of_bucket.setdefault(term_bucket(t, self.bucket_count), []).append(t)
        parts, streamed, n_rows, pinned_rows = [], [], 0, 0
        for b in sorted(of_bucket):
            bterms = of_bucket[b]
            keys = term_keys(bterms)
            for path in by_bucket.get(b, ()):
                pf = self._tables.get(path)
                if pf is None and self._admits(path, cap, pinned_rows):
                    pf = self._tables[path] = pinned(path)
                    pf.readers.add(self)
                    self.held_bytes += pf.nbytes
                    pinned_rows += self.file_rows(path)
                if pf is not None:
                    found = [
                        Part(t, pf, slice(lo, hi), hi - lo)
                        for t, lo, hi in pf.runs.find(bterms, keys)
                    ]
                    parts += found
                    n_rows += sum(p.n for p in found)
                else:
                    for batch in self._read(
                        [path], cols, pa_ds.field("term").isin(bterms)
                    ):
                        streamed.append(batch)
                        n_rows += batch.num_rows
                        if cap is not None and n_rows > cap:
                            return None
                if cap is not None and n_rows > cap:
                    return None
        if streamed:
            tbl = pa.Table.from_batches(streamed).combine_chunks()
            parts += FileRows(tbl.to_batches()[0]).parts(
                list(dict.fromkeys(terms))
            )
        return ChunkRows(parts, self.deleted)

    def file_rows(self, path: str) -> int:
        """Row count of one data file, from its footer (read once)."""
        n = self._n_rows.get(path)
        if n is None:
            import pyarrow.parquet as pq

            n = self._n_rows[path] = pq.read_metadata(path).num_rows
        return n

    def _admits(self, path: str, cap: int | None, pinned_rows: int) -> bool:
        """Whether :meth:`rows` pins ``path``: a file of at most
        ``pin_rows`` rows, while this reader holds less than its byte
        cap and, under the read's ``cap``, while the files the read has
        pinned hold at most ``cap`` rows with it."""
        n = self.file_rows(path)
        if n > self.pin_rows or (cap is not None and pinned_rows + n > cap):
            return False
        return self.held_bytes < self.cap_bytes

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
