"""The driver paths' shared pinned files: ``search()``, ``batch_search``
and ``search_local`` all read chunk rows through the engine's
SegmentReader, which pins whole files up to its byte cap, and engines
over the same immutable file share one pinned copy of it, decoded once.
Deletes stay per engine: a pinned file holds every posting, each
reader masks its own tombstones."""

import gc
import shutil
import sys
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from search_engine_spark import codecs, maintenance, segment
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import QueryEngine

from tests.conftest import assert_rank_identical
from tests.test_driver_plan import (
    QUERIES, batch_rows, build, rows_of, zipf_docs,
)

BATCH = [(i, q) for i, (q, _mode) in enumerate(QUERIES)]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    docs = zipf_docs(n_docs=1200, seed=17)
    idx = build(spark, str(tmp_path_factory.mktemp("pinned") / "idx"), docs)
    return idx, docs, OracleIndex(docs)


@pytest.fixture()
def file_reads(monkeypatch):
    """Paths of every chunk file read from disk from here on: whole-file
    loads into the shared registry and streamed reads alike."""
    reads = []
    read_pinned = segment.read_pinned
    stream = segment.SegmentReader._read

    def spy_pinned(path):
        reads.append(path)
        return read_pinned(path)

    def spy_stream(self, paths, cols, expr):
        reads.extend(paths)
        return stream(self, paths, cols, expr)

    monkeypatch.setattr(segment, "read_pinned", spy_pinned)
    monkeypatch.setattr(segment.SegmentReader, "_read", spy_stream)
    gc.collect()  # drop readers earlier tests left unreferenced
    return reads


def registry_paths(root: str) -> set[str]:
    return {
        path for path, _m, _s in list(segment._PINNED)
        if path.startswith(root)
    }


def test_warm_search_and_batch_read_no_file(spark, corpus, file_reads):
    """After one warm-up, repeating the same ``search()`` calls and
    ``batch_search`` reads no chunk file: metadata, phase-1 payloads and
    the final top-k all come from the pinned files."""
    idx, _docs, oracle = corpus
    eng = QueryEngine(spark, idx)

    def run():
        single = [
            rows_of(eng.search(q, mode=mode, k=10)) for q, mode in QUERIES
        ]
        return single, batch_rows(eng.batch_search(BATCH, k=10))

    warm = run()
    assert file_reads and len(file_reads) == len(set(file_reads))
    file_reads.clear()
    assert run() == warm
    assert file_reads == []
    for got, (q, mode) in zip(warm[0], QUERIES):
        assert_rank_identical(got, oracle.topk(q, mode=mode, k=10))
    for qid, q in BATCH:
        assert_rank_identical(warm[1].get(qid, []), oracle.topk(q, k=10))


def test_full_reader_streams_without_evicting(spark, corpus, file_reads):
    """A reader that holds its byte cap pins no further file and evicts
    none: the files it does not hold are streamed, and every driver path
    still matches the oracle."""
    idx, _docs, oracle = corpus
    eng = QueryEngine(spark, idx)
    eng._reader.cap_bytes = 1  # the first file pinned fills it
    got = [rows_of(eng.search(q, mode=mode, k=10)) for q, mode in QUERIES]
    held = dict(eng._reader._tables)
    assert len(held) == 1
    local = [eng.search_local(q, mode=mode, k=10) for q, mode in QUERIES]
    batch = batch_rows(eng.batch_search(BATCH, k=10))
    assert eng._reader._tables == held
    assert set(file_reads) - set(held)
    for g, l, (q, mode) in zip(got, local, QUERIES):
        assert_rank_identical(g, oracle.topk(q, mode=mode, k=10))
        assert_rank_identical(l, oracle.topk(q, mode=mode, k=10))
    for qid, q in BATCH:
        assert_rank_identical(batch.get(qid, []), oracle.topk(q, k=10))


def test_reader_counts_held_bytes_once_per_file(spark, corpus, monkeypatch):
    """A fresh reader counts each file's bytes when it pins it and again
    only when the file is decoded, by whichever reader: pinning N files
    computes ``FileRows.nbytes`` O(N) times, not once per held file on
    every admission, and each reader's count stays exact."""
    idx, _docs, _oracle = corpus
    real = segment.FileRows.nbytes
    calls = []

    def counted(pf):
        calls.append(1)
        return real.fget(pf)

    monkeypatch.setattr(segment.FileRows, "nbytes", property(counted))
    gc.collect()  # drop readers earlier tests left unreferenced
    a, b = QueryEngine(spark, idx), QueryEngine(spark, idx)
    terms = [f"w{i}" for i in range(120)]
    for eng in (a, b):
        for i in range(0, len(terms), 3):
            eng.search_local(" ".join(terms[i:i + 3]), k=10)
    held = a._reader._tables
    assert len(held) >= 8 and set(held) == set(b._reader._tables)
    for pf in held.values():
        pf.decode()  # grows both readers' counts once
    assert len(calls) <= 3 * 2 * len(held)
    for eng in (a, b):
        assert eng._reader.held_bytes == sum(
            real.fget(pf) for pf in eng._reader._tables.values()
        )


def test_engines_share_one_copy(spark, corpus, file_reads):
    """Two engines over one index read each file once and hold the same
    pinned object; once both are gone the registry forgets the files."""
    idx, _docs, _oracle = corpus
    a, b = QueryEngine(spark, idx), QueryEngine(spark, idx)
    for eng in (a, b):
        for q, mode in QUERIES:
            eng.search_local(q, mode=mode, k=10)
            rows_of(eng.search(q, mode=mode, k=10))
    assert file_reads and len(file_reads) == len(set(file_reads))
    assert set(a._reader._tables) == set(b._reader._tables)
    assert all(
        a._reader._tables[p] is b._reader._tables[p] for p in a._reader._tables
    )
    assert registry_paths(idx) == set(a._reader._tables)
    del a, b, eng
    gc.collect()
    assert registry_paths(idx) == set()


def test_rewritten_file_is_reread(spark, corpus, tmp_path, file_reads):
    """A chunk file rewritten in place (new mtime and size) is read
    again by a new engine, not served from the copy an older engine
    still pins."""
    idx, _docs, _oracle = corpus
    copy = str(tmp_path / "idx")
    shutil.copytree(idx, copy)
    term = "w7"
    a = QueryEngine(spark, copy)
    before = a._reader.rows([term]).n_rows
    path = next(
        p for p, pf in a._reader._tables.items()
        if term in pf.term.to_pylist()
    )
    tbl = pq.read_table(path)
    pq.write_table(tbl.filter(pc.not_equal(tbl.column("term"), term)), path)
    file_reads.clear()

    b = QueryEngine(spark, copy)
    assert b._reader.rows([term]).n_rows < before
    assert path in file_reads
    assert b._reader._tables[path] is not a._reader._tables[path]
    assert a._reader.rows([term]).n_rows == before


def test_deletes_stay_per_engine(spark, corpus, tmp_path):
    """Engine A opened before ``delete_docs`` and engine B after share
    the pinned files, yet B's answers drop the deleted docs (matching
    the oracle) while A's stay as they were."""
    idx, _docs, oracle = corpus
    copy = str(tmp_path / "idx")
    shutil.copytree(idx, copy)
    a = QueryEngine(spark, copy)
    local_a = [a.search_local(q, mode=mode, k=10) for q, mode in QUERIES]
    deleted = {
        d for q, mode in QUERIES for d, _ in oracle.topk(q, mode=mode, k=3)
    }
    maintenance.delete_docs(spark, copy, sorted(deleted))

    b = QueryEngine(spark, copy)
    for q, mode in QUERIES:
        alive = [
            (d, s) for d, s in oracle.topk(q, mode=mode, k=10**6)
            if d not in deleted
        ][:10]
        assert_rank_identical(b.search_local(q, mode=mode, k=10), alive)
        assert_rank_identical(rows_of(b.search(q, mode=mode, k=10)), alive)
    shared = set(a._reader._tables) & set(b._reader._tables)
    assert shared
    assert all(a._reader._tables[p] is b._reader._tables[p] for p in shared)
    assert [
        a.search_local(q, mode=mode, k=10) for q, mode in QUERIES
    ] == local_a


def alive_topk(oracle, q, mode, dead, k=10):
    """The oracle's top ``k`` with the ``dead`` docs dropped."""
    return [
        (d, s) for d, s in oracle.topk(q, mode=mode, k=10**6)
        if d not in dead
    ][:k]


@pytest.fixture()
def decoded_rows(monkeypatch):
    """One entry per call to any chunk decoder from here on: the rows
    it decodes (0 for ``decode_lengths``, which pairs with
    ``decode_chunk``)."""
    calls = []

    def spy(name, rows):
        real = getattr(codecs, name)

        def wrapped(*args, **kwargs):
            calls.append(rows(*args))
            return real(*args, **kwargs)
        return wrapped

    for name, rows in (
        ("decode_chunk_batch", lambda payload, *_: len(payload)),
        ("decode_chunk", lambda *_: 1),
        ("decode_lengths", lambda *_: 0),
    ):
        monkeypatch.setattr(codecs, name, spy(name, rows))
    return calls


def test_files_read_often_are_decoded_once_and_shared(
    spark, corpus, decoded_rows
):
    """A pinned file read often is decoded whole, once: after enough
    repeats of the same queries every file they read is decoded, and a
    second engine over the same files answers ``search_local``,
    ``search()`` and ``batch_search`` from the first one's decoded
    copies, calling no decoder."""
    idx, _docs, oracle = corpus
    first = QueryEngine(spark, idx)
    rows_of(first.search(*QUERIES[0], k=10))  # pins, reads postings
    # every read of a file charges it at least two rows' worth, and a
    # file is decoded whole once its charge reaches its row count
    repeats = max(len(pf.term) for pf in first._reader._tables.values())
    for _ in range(repeats // 2 + 1):
        for q, mode in QUERIES:
            first.search_local(q, mode=mode, k=10)
            rows_of(first.search(q, mode=mode, k=10))
        batch_rows(first.batch_search(BATCH, k=10))
    assert any(
        isinstance(pf.post, segment.Decoded)
        for pf in first._reader._tables.values()
    )
    decoded_rows.clear()
    second = QueryEngine(spark, idx)
    local = [second.search_local(q, mode=mode, k=10) for q, mode in QUERIES]
    single = [rows_of(second.search(q, mode=mode, k=10)) for q, mode in QUERIES]
    batch = batch_rows(second.batch_search(BATCH, k=10))
    assert decoded_rows == []
    assert set(second._reader._tables) <= set(first._reader._tables)
    for got_l, got_s, (q, mode) in zip(local, single, QUERIES):
        assert_rank_identical(got_l, oracle.topk(q, mode=mode, k=10))
        assert_rank_identical(got_s, oracle.topk(q, mode=mode, k=10))
    for qid, q in BATCH:
        assert_rank_identical(batch.get(qid, []), oracle.topk(q, k=10))


def test_cold_read_decodes_only_the_rows_it_asks_for(
    spark, corpus, tmp_path, decoded_rows
):
    """A file's first postings read decodes the rows it asks for, not
    the file: a ``gather`` of one row of a freshly pinned file decodes
    that row and leaves the file encoded, and its postings equal the
    whole file's decode."""
    idx, _docs, _oracle = corpus
    copy = str(tmp_path / "idx")  # files no other test's engine pinned
    shutil.copytree(idx, copy)
    eng = QueryEngine(spark, copy)
    term = "w0"
    cr = eng._reader.rows([term])
    assert cr.n_rows >= 2
    decoded_rows.clear()
    got = cr.gather([1])
    assert decoded_rows and sum(decoded_rows) == 1
    assert eng._reader._tables
    for pf in eng._reader._tables.values():
        assert isinstance(pf.post, segment.Coded)
        pf.decode()
    want = eng._reader.rows([term]).gather([1])
    for a, b in zip(got, want):
        assert a.tolist() == b.tolist()


def test_streamed_rows_decode_only_the_chunks_read(
    spark, corpus, decoded_rows
):
    """A reader that pins nothing streams every file. A ``search_local``
    decodes exactly the chunks it reads
    (``last_local_stats["chunks_decoded"]``) until that work would reach
    the work of decoding all the rows it streamed; then it decodes
    those at once, so it never decodes more than the chunks it read
    plus the rows it streamed."""
    idx, _docs, oracle = corpus
    eng = QueryEngine(spark, idx)
    eng._reader.cap_bytes = 0
    piecemeal = 0
    # the top 1 of a rare term is in the first of its chunks read
    for q, mode, k in [(q, mode, 10) for q, mode in QUERIES] + [
        ("w150", "disjunctive", 1)
    ]:
        decoded_rows.clear()
        got = eng.search_local(q, mode=mode, k=k)
        assert_rank_identical(got, oracle.topk(q, mode=mode, k=k))
        read = eng.last_local_stats["chunks_decoded"]
        streamed = eng._reader.rows(q.split()).n_rows
        if read < segment.decode_cost(streamed):
            assert sum(decoded_rows) == read
            piecemeal += 1
        else:
            assert sum(decoded_rows) <= read + streamed
    assert piecemeal
    assert eng._reader._tables == {}


def test_engines_with_different_deletes_share_one_copy(
    spark, corpus, tmp_path
):
    """Two engines whose indexes carry different tombstones share every
    decoded file they both read, and each answers ``search_local``,
    ``search()`` and ``batch_search`` like the oracle without its own
    deleted docs."""
    idx, _docs, oracle = corpus
    copy = str(tmp_path / "idx")
    shutil.copytree(idx, copy)
    tops = [
        [d for d, _ in oracle.topk(q, mode=mode, k=3)] for q, mode in QUERIES
    ]
    once = {d for top in tops[::2] for d in top}
    twice = once | {d for top in tops[1::2] for d in top}
    maintenance.delete_docs(spark, copy, sorted(once))
    b = QueryEngine(spark, copy)
    maintenance.delete_docs(spark, copy, sorted(twice - once))
    c = QueryEngine(spark, copy)
    for eng, dead in ((b, once), (c, twice)):
        for q, mode in QUERIES:
            want = alive_topk(oracle, q, mode, dead)
            assert_rank_identical(eng.search_local(q, mode=mode, k=10), want)
            assert_rank_identical(rows_of(eng.search(q, mode=mode, k=10)), want)
        batch = batch_rows(eng.batch_search(BATCH, k=10))
        for qid, q in BATCH:
            assert_rank_identical(
                batch.get(qid, []), alive_topk(oracle, q, "disjunctive", dead)
            )
    shared = set(b._reader._tables) & set(c._reader._tables)
    assert shared
    assert all(b._reader._tables[p] is c._reader._tables[p] for p in shared)


def test_concurrent_loads_keep_one_copy(tmp_path):
    """Threads (more than cores) missing the same files at once all get
    the one copy the registry keeps, whichever thread read it."""
    n = 50
    paths = []
    for i in range(4):
        path = str(tmp_path / f"part-{i}.parquet")
        pq.write_table(pa.table({
            "term": [f"t{j:03d}" for j in range(n)],
            "salt": pa.array([0] * n, pa.int32()),
            "chunk_seq": pa.array([0] * n, pa.int32()),
            "first_doc_id": list(range(n)),
            "last_doc_id": list(range(n)),
            "n": pa.array([1] * n, pa.int32()),
            "max_ratio": [0.5] * n,
            "min_ratio": [0.5] * n,
            "codec": pa.array([0] * n, pa.int32()),
            "payload": [
                codecs.encode_chunk([i * n + j], [1])[1] for j in range(n)
            ],
            "dls": [codecs.encode_lengths([5])] * n,
        }), path)
        paths.append(path)
    n_threads = 16
    got = {path: [] for path in paths}
    start = threading.Barrier(n_threads)

    def load_all():
        start.wait(timeout=30)
        for path in paths:
            got[path].append(segment.pinned(path))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=load_all) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    for path in paths:
        assert len(got[path]) == n_threads
        assert all(pf is got[path][0] for pf in got[path])


def test_piecemeal_and_whole_decodes_agree(tmp_path):
    """A pinned file's rows decoded one chunk at a time, in one batch
    (a subset or all of them, varbyte-fallback chunks among them) and by
    the whole-file :meth:`FileRows.decode` give the same postings, with
    int64 doc ids, as ``decode_chunk``/``decode_lengths``."""
    rng = np.random.default_rng(5)
    n = 60
    want, payload, codec, dls = [], [], [], []
    for j in range(n):
        size = int(rng.integers(1, 129))
        gap_top = 2**30 if j % 7 == 3 else 50  # some need the fallback
        ids = np.cumsum(rng.integers(1, gap_top, size)) + j
        tfs = rng.integers(1, 300, size)
        lens = rng.integers(1, 70_000, size)
        c, p = codecs.encode_chunk(ids, tfs)
        want.append((ids, tfs, lens))
        codec.append(c)
        payload.append(p)
        dls.append(codecs.encode_lengths(lens))
    assert codecs.CODEC_VB_FALLBACK in codec
    path = str(tmp_path / "part-0.parquet")
    pq.write_table(pa.table({
        "term": [f"t{j:03d}" for j in range(n)],
        "salt": pa.array([0] * n, pa.int32()),
        "chunk_seq": pa.array([0] * n, pa.int32()),
        "first_doc_id": [int(w[0][0]) for w in want],
        "last_doc_id": [int(w[0][-1]) for w in want],
        "n": pa.array([len(w[0]) for w in want], pa.int32()),
        "max_ratio": [0.5] * n,
        "min_ratio": [0.5] * n,
        "codec": pa.array(codec, pa.int32()),
        "payload": payload,
        "dls": dls,
    }), path)
    pf = segment.read_pinned(path)

    def check(post, rows):
        for j, r in enumerate(rows):
            got = post.row(j)
            assert got[0].dtype == np.int64
            for a, b in zip(got, want[r]):
                assert a.tolist() == b.tolist()

    subsets = ([7], [0, 3, 10, 59], list(range(2, n, 2)), list(range(n)))
    # both ways: one chunk at a time and one batch
    assert {
        segment.decode_cost(len(rows)) < len(rows) for rows in subsets
    } == {False, True}
    for rows in subsets:
        check(pf.post.rows(np.array(rows)), rows)
    pf.decode()
    assert isinstance(pf.post, segment.Decoded)
    check(pf.post, range(n))
