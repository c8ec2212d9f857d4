"""On-disk order of the bucket-partitioned stages, and the driver
reader's use of it.

A build keeps each term's chunk rows in one file, as one run; an index
written before that (one file per salt range, each holding every term
of its bucket), or merged map-only from several sources, spreads a
term over several files and still answers exactly.

Every ``chunks``, ``lexicon``, ``postings`` and ``fuzzy`` file must be
sorted by its stage's sort key after a build, a compaction and an
upsert: a partitioned Spark write re-sorts each task's rows by the
partition column unless they already arrive in that order. The
``SegmentReader`` serves a cached file's term runs as slices, and
sorts a file written before that order held once when it loads it,
so such an index answers exactly like a freshly built one."""

import glob
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from search_engine_spark import maintenance, segment
from search_engine_spark.build import build_fuzzy_index, term_bucket
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import QueryEngine

from tests.test_driver_plan import (
    QUERIES, batch_rows, build, rows_of, zipf_docs,
)
from tests.conftest import assert_rank_identical

SORT_KEYS = {
    "chunks": ["term", "salt", "chunk_seq"],
    "lexicon": ["term"],
    "postings": ["term", "doc_id"],
    "fuzzy": ["variant"],
}
BUCKETS = 8
MULTIBYTE = "žluťoučký"


def nul_pair(bucket_count: int = BUCKETS) -> tuple[str, str]:
    """A term and the same term plus a trailing NUL that hash to one
    bucket, so both share a chunk file (neither character is a
    tokenizer delimiter)."""
    for i in range(1000):
        t = f"nul{i}"
        if term_bucket(t, bucket_count) == term_bucket(
            t + "\x00", bucket_count
        ):
            return t, t + "\x00"
    raise AssertionError("no colliding pair")


NUL, NUL0 = nul_pair()
EXTRA_QUERIES = [
    (MULTIBYTE, "disjunctive"),
    (f"{MULTIBYTE} w3", "conjunctive"),
    (NUL, "disjunctive"),
    (NUL0, "disjunctive"),
    (f"{NUL0} w1", "conjunctive"),
]


def layout_docs():
    """The driver-plan Zipf corpus plus a multibyte term and a term
    pair that differs only by a trailing NUL, in a few docs each."""
    docs = []
    for d, text in zipf_docs():
        extra = [
            word for word, every, at in (
                (MULTIBYTE, 41, 3), (NUL, 37, 1), (NUL0, 53, 2),
            )
            if d % every == at
        ]
        docs.append((d, " ".join([text, *extra])))
    return docs


@pytest.fixture(scope="module")
def layout_corpus(spark, tmp_path_factory):
    docs = layout_docs()
    idx = build(
        spark, str(tmp_path_factory.mktemp("layout") / "idx"), docs,
        bucket_count=BUCKETS,
    )
    return idx, docs, OracleIndex(docs)


def stage_files(index_dir: str, stage: str) -> list[str]:
    return sorted(glob.glob(
        os.path.join(index_dir, stage, "**", "*.parquet"), recursive=True
    ))


def assert_sorted(index_dir: str, stages) -> None:
    """Every file of ``stages`` under ``index_dir`` is sorted by its
    stage's sort key."""
    for stage in stages:
        files = stage_files(index_dir, stage)
        assert files, f"{index_dir}: no {stage} files"
        cols = SORT_KEYS[stage]
        for path in files:
            got = pq.read_table(path, columns=cols)
            want = got.sort_by([(c, "ascending") for c in cols])
            assert got.equals(want), f"{path} is not sorted by {cols}"


def test_stage_files_sorted_after_build_compact_upsert(
    spark, layout_corpus, tmp_path
):
    """Build, compaction, one upsert wave and the fuzzy sidecar all
    write term-sorted files."""
    idx, docs, _oracle = layout_corpus
    base = str(tmp_path / "base")
    shutil.copytree(idx, base)
    assert_sorted(base, ["chunks", "lexicon", "postings"])

    build_fuzzy_index(spark, base)
    assert_sorted(base, ["fuzzy"])

    maintenance.delete_docs(spark, base, list(range(0, len(docs), 7)))
    compacted = str(tmp_path / "compacted")
    maintenance.compact_index(spark, base, compacted)
    assert_sorted(compacted, ["chunks", "lexicon"])

    wave = spark.createDataFrame(
        [(f"https://t/{d}", f"{text} fresh{d % 5}") for d, text in docs[:40]]
        + [(f"https://t/new{i}", f"w{i} w{i + 1} brandnew")
           for i in range(20)],
        "url string, text string",
    )
    upserted = str(tmp_path / "upserted")
    maintenance.upsert_docs(spark, compacted, wave, upserted)
    assert_sorted(upserted, ["chunks", "lexicon"])


def files_of_terms(index_dir: str) -> dict[str, set[str]]:
    """{term: the chunk files holding its rows}."""
    out: dict[str, set[str]] = {}
    for path in stage_files(index_dir, "chunks"):
        terms = pq.read_table(path, columns=["term"]).column("term")
        for t in pc.unique(terms).to_pylist():
            out.setdefault(t, set()).add(path)
    return out


def test_each_term_lies_in_one_chunk_file(layout_corpus):
    """After a build, no term's rows appear in two chunk files, every
    file stays sorted by (term, salt, chunk_seq), and each build task
    writes only the buckets its (bucket, term) range spans."""
    idx, _docs, _oracle = layout_corpus
    assert_sorted(idx, ["chunks"])
    spread = {
        t: paths for t, paths in files_of_terms(idx).items()
        if len(paths) > 1
    }
    assert not spread, spread
    with open(os.path.join(idx, "_manifest.json")) as f:
        n_salts = json.load(f)["config"]["n_salts"]
    assert len(stage_files(idx, "chunks")) <= n_salts + BUCKETS - 1


def split_chunk_files_by_salt(index_dir: str) -> None:
    """Rewrite every chunk file as one file per salt: the layout of an
    index built before a term's rows were kept in one file (one file
    per salt-range task, each holding every term of its bucket)."""
    for path in stage_files(index_dir, "chunks"):
        tbl = pq.read_table(path)
        for s in pc.unique(tbl.column("salt")).to_pylist():
            pq.write_table(
                tbl.filter(pc.equal(tbl.column("salt"), s)),
                path.replace(".parquet", f"-salt{s}.parquet"),
            )
        os.remove(path)


def test_terms_spread_over_files_serve_rank_identical(
    spark, layout_corpus, tmp_path
):
    """An index in the older layout, where a term's rows lie in several
    files, answers ``search_local``, ``search()`` and ``batch_search``
    rank-identically to the oracle."""
    idx, _docs, oracle = layout_corpus
    legacy = str(tmp_path / "per_salt")
    shutil.copytree(idx, legacy)
    split_chunk_files_by_salt(legacy)
    assert max(len(p) for p in files_of_terms(legacy).values()) > 1
    eng = QueryEngine(spark, legacy)
    queries = QUERIES + EXTRA_QUERIES
    for q, mode in queries:
        want = oracle.topk(q, mode=mode, k=10)
        assert_rank_identical(eng.search_local(q, mode=mode, k=10), want)
        assert_rank_identical(rows_of(eng.search(q, mode=mode, k=10)), want)
    batch = [(i, q) for i, (q, _mode) in enumerate(queries)]
    got = batch_rows(eng.batch_search(batch, k=10))
    for qid, q in batch:
        assert_rank_identical(got.get(qid, []), oracle.topk(q, k=10))


def shuffle_chunk_files(index_dir: str, seed: int = 5) -> None:
    """Rewrite every chunk file with its rows in random order: the
    layout of an index written before the build kept term order."""
    rng = np.random.default_rng(seed)
    for path in stage_files(index_dir, "chunks"):
        tbl = pq.read_table(path)
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        pq.write_table(tbl, path)


def local_answers(eng, queries, k=10):
    return [eng.search_local(q, mode=mode, k=k) for q, mode in queries]


def test_unsorted_chunk_files_serve_rank_identical(
    spark, layout_corpus, tmp_path
):
    """An index whose chunk files are not term-sorted answers
    ``search_local`` exactly like the sorted index and the oracle, in
    both modes and after deletes; exact matches keep a multibyte term
    and a trailing-NUL term apart from their neighbours."""
    idx, _docs, oracle = layout_corpus
    legacy = str(tmp_path / "legacy")
    shutil.copytree(idx, legacy)
    shuffle_chunk_files(legacy)
    unsorted = 0
    for path in stage_files(legacy, "chunks"):
        terms = pq.read_table(path, columns=["term"]).column("term")
        unsorted += not terms.equals(terms.sort())
    assert unsorted > 0

    queries = QUERIES + EXTRA_QUERIES
    assert oracle.topk(NUL, k=100) != oracle.topk(NUL0, k=100)
    assert oracle.topk(MULTIBYTE, k=1)
    eng = QueryEngine(spark, idx)
    eng_legacy = QueryEngine(spark, legacy)
    want = local_answers(eng, queries)
    # twice: the first read loads (and sorts) the files, the second
    # serves the cached runs
    for _ in range(2):
        assert local_answers(eng_legacy, queries) == want
    for got, (q, mode) in zip(want, queries):
        assert_rank_identical(got, oracle.topk(q, mode=mode, k=10))
    for pinned in eng_legacy._reader._tables.values():
        terms = pinned.term
        assert terms.equals(terms.sort())

    deleted = {
        d for q, mode in queries for d, _ in oracle.topk(q, mode=mode, k=3)
    }
    sorted_deleted = str(tmp_path / "deleted")
    shutil.copytree(idx, sorted_deleted)
    for d in (sorted_deleted, legacy):
        maintenance.delete_docs(spark, d, sorted(deleted))
    want = local_answers(QueryEngine(spark, sorted_deleted), queries)
    assert local_answers(QueryEngine(spark, legacy), queries) == want
    for got, (q, mode) in zip(want, queries):
        alive = [
            (d, s) for d, s in oracle.topk(q, mode=mode, k=10**6)
            if d not in deleted
        ][:10]
        assert_rank_identical(got, alive)


def test_term_runs_exact_match():
    """The run index finds exactly the asked terms: one that only
    differs from another by a trailing NUL (which a bare numpy ``S``
    array drops), multibyte ones, and terms longer than a key that
    share its prefix; absent terms get no slice."""
    long = "x" * segment.KEY_BYTES
    terms = [
        "a", "ab", "ab", "ab\x00", "ab\x00", "é", "é",
        long, long + "1", long + "1", long + "2", "zz",
    ]
    tbl = pa.table({"term": terms, "row": list(range(len(terms)))})
    batch = tbl.to_batches()[0]
    runs = segment.TermRuns(tbl.column("term").combine_chunks())
    assert runs.keys.itemsize == segment.KEY_BYTES

    def rows(*ask):
        ask = list(ask)
        found = runs.find(ask, segment.term_keys(ask))
        assert all(batch.column("term")[lo].as_py() == t for t, lo, _ in found)
        return [r for _t, lo, hi in found for r in range(lo, hi)]

    assert rows("ab") == [1, 2]
    assert rows("ab\x00") == [3, 4]
    assert rows("é", "a") == [0, 5, 6]
    assert rows(long + "1") == [8, 9]
    assert rows(long + "2", long) == [7, 10]
    assert rows(long + "3", long[:-1]) == []
    assert rows("zz", "zzz", "abc", "") == [11]
    empty = segment.TermRuns(pa.array([], pa.string()))
    assert empty.find(["a"], segment.term_keys(["a"])) == []
