"""The driver paths' shared pinned files: ``search()``, ``batch_search``
and ``search_local`` all read chunk rows through the engine's
SegmentReader, which pins whole files up to its byte cap, and engines
over the same immutable file share one pinned copy of it. Deletes stay per engine: a pinned file
holds encoded postings, each reader masks its own tombstones."""

import gc
import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from search_engine_spark import maintenance, segment
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
    before = a._reader.table([term]).num_rows
    path = next(
        p for p, pf in a._reader._tables.items()
        if term in pf.batch.column("term").to_pylist()
    )
    tbl = pq.read_table(path)
    pq.write_table(tbl.filter(pc.not_equal(tbl.column("term"), term)), path)
    file_reads.clear()

    b = QueryEngine(spark, copy)
    assert b._reader.table([term]).num_rows < before
    assert path in file_reads
    assert b._reader._tables[path] is not a._reader._tables[path]
    assert a._reader.table([term]).num_rows == before


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
            "payload": [bytes([i, j]) for j in range(n)],
            "dls": [b"x"] * n,
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
