"""search() planned on the driver: below METADATA_CAP on the parquet
layout the chunk metadata, the phase-1 theta probe and the conjunctive
pivot ids all come from the engine's SegmentReader, and Spark runs only
the final decode. Answers must stay rank-identical to the pure-Python
oracle in every mode and option, and the key filter must survive terms
that need escaping."""

import shutil

import numpy as np
import pytest

import search_engine_spark.query as query_mod
from search_engine_spark import maintenance, segment
from search_engine_spark.build import IndexBuilder
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import MultiIndexQueryEngine, QueryEngine

from tests.test_query import assert_rank_identical

SLASH = "x\\y"  # backslash: not a tokenizer delimiter on either side
TRAIL = "z\\"  # a trailing backslash would end an unescaped SQL literal

QUERIES = [
    ("w7", "disjunctive"),
    ("w1 w20 w45", "disjunctive"),
    ("w0 w2 w9 w33", "disjunctive"),
    ("w2 w60", "conjunctive"),
    ("w0 w3 w12", "conjunctive"),
    (f"{SLASH} w30", "disjunctive"),
    (f"{SLASH} {TRAIL} w4", "conjunctive"),
]


def zipf_docs(n_docs: int = 3000, seed: int = 11):
    """Zipf(1.1) text over 300 words: head words in most docs (negative
    idf), a long positive-idf tail; two backslash terms in a few docs."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, 301) ** 1.1
    p /= p.sum()
    docs = []
    for d in range(n_docs):
        words = [f"w{i}" for i in rng.choice(300, rng.integers(20, 60), p=p)]
        if d % 97 == 5:
            words += [SLASH, TRAIL, "w4"]
        docs.append((d, " ".join(words)))
    return docs


def build(spark, path, docs):
    df = spark.createDataFrame(
        [(d, f"https://t/{d}", t) for d, t in docs],
        "doc_id long, url string, text string",
    )
    IndexBuilder(spark, path, n_salts=4, bucket_count=8).build(
        df, resume=False
    )
    return path


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    docs = zipf_docs()
    idx = build(spark, str(tmp_path_factory.mktemp("dplan") / "idx"), docs)
    return idx, docs, OracleIndex(docs)


def rows_of(df, explain=False):
    rows = df.collect()
    if explain:
        for r in rows:
            assert abs(sum(t["score"] for t in r["terms"]) - r["score"]) < 1e-4
            assert [t["term"] for t in r["terms"]] == sorted(
                t["term"] for t in r["terms"]
            )
    return [(r["doc_id"], float(r["score"])) for r in rows]


@pytest.mark.parametrize("explain", [False, True])
@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_driver_plan_rank_identity(spark, corpus, explain, dtype):
    idx, _docs, oracle = corpus
    eng = QueryEngine(spark, idx)
    probes = set()
    for q, mode in QUERIES:
        got = rows_of(
            eng.search(q, mode=mode, k=10, explain=explain, dtype=dtype),
            explain,
        )
        assert_rank_identical(got, oracle.topk(q, mode=mode, k=10))
        st = eng.last_plan_stats
        assert st["pruner"] in ("block_max_wand", "pivot_nextgeq"), st
        assert st["driver_jobs"] == 1, st  # the final decode only
        probes.add(st.get("theta_probe"))
    assert "local" in probes  # the driver-side phase-1 probe ran


def test_driver_plan_conjunctive_without_pivot(spark, corpus, monkeypatch):
    """Conjunctive through the segment sweep (no pivot refinement)."""
    idx, _docs, oracle = corpus
    monkeypatch.setattr(query_mod, "PIVOT_DOC_CAP", 0)
    eng = QueryEngine(spark, idx)
    for q in ("w0 w3 w12", "w1 w2", f"{SLASH} w4"):
        got = rows_of(eng.search(q, mode="conjunctive", k=10))
        assert eng.last_plan_stats["pruner"] == "block_max_wand"
        assert_rank_identical(got, oracle.topk(q, mode="conjunctive", k=10))


def test_driver_plan_after_delete_docs(spark, corpus, tmp_path):
    """Tombstones mask the reader's probe and pivot decodes like the
    final job's: survivors keep their (stale-stats) scores."""
    idx, _docs, oracle = corpus
    copy = str(tmp_path / "deleted")
    shutil.copytree(idx, copy)
    deleted = set()
    for q, mode in QUERIES:
        deleted |= {d for d, _ in oracle.topk(q, mode=mode, k=3)}
    maintenance.delete_docs(spark, copy, sorted(deleted))
    eng = QueryEngine(spark, copy)
    for q, mode in QUERIES:
        want = [
            (d, s) for d, s in oracle.topk(q, mode=mode, k=10**6)
            if d not in deleted
        ][:10]
        got = rows_of(eng.search(q, mode=mode, k=10))
        assert eng.last_plan_stats["pruner"] in (
            "block_max_wand", "pivot_nextgeq"
        )
        assert_rank_identical(got, want)


def test_driver_plan_multi_segment(spark, corpus, tmp_path):
    """Two disjoint segments served with global stats (each segment
    engine plans under a stats override) equal one build of the union."""
    _idx, docs, oracle = corpus
    a = build(spark, str(tmp_path / "a"), [x for x in docs if x[0] < 1800])
    b = build(spark, str(tmp_path / "b"), [x for x in docs if x[0] >= 1800])
    with MultiIndexQueryEngine(spark, [a, b], offsets=[0, 0]) as multi:
        for q, mode in QUERIES:
            got = rows_of(multi.search(q, mode=mode, k=10))
            assert_rank_identical(got, oracle.topk(q, mode=mode, k=10))
        assert all(e.has_stats_override for e in multi.engines)


def test_above_cap_metadata_read_stops_early(spark, corpus, monkeypatch):
    """The reader stops at the record batch that crosses METADATA_CAP
    (the driver never holds an above-cap term set's whole metadata),
    search() then plans with the distributed banded planner, and the
    lexicon-cached chunk counts skip the doomed read on a repeat."""
    idx, _docs, oracle = corpus
    cap = 5
    monkeypatch.setattr(query_mod, "METADATA_CAP", cap)
    meta_rows = []
    read = segment.SegmentReader._read

    def spy(paths, cols, expr):
        for part in read(paths, cols, expr):
            if "payload" not in cols:
                meta_rows.append(part.num_rows)
            yield part

    monkeypatch.setattr(segment.SegmentReader, "_read", staticmethod(spy))
    eng = QueryEngine(spark, idx)
    q = "w0 w1 w2"
    terms = q.split()
    assert eng._reader.table(terms, keep=False, cap=cap) is None
    assert sum(meta_rows[:-1]) <= cap < sum(meta_rows)
    stopped_at = sum(meta_rows)
    assert eng._reader.table(terms, keep=False).num_rows > stopped_at

    meta_rows.clear()
    for _ in range(2):
        got = rows_of(eng.search(q, k=10))
        assert eng.last_plan_stats["pruner"] == "banded_wand"
        assert_rank_identical(got, oracle.topk(q, k=10))
    assert sum(meta_rows) == stopped_at  # first query only


def test_search_starts_at_most_two_spark_jobs(spark, corpus):
    idx, _docs, _oracle = corpus
    eng = QueryEngine(spark, idx)
    # an engine's first query also reads the chunks stage once (one
    # schema job per engine lifetime)
    eng.search("w1", k=10).collect()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for i, (q, mode) in enumerate(QUERIES):
            group = f"driver-plan-jobs-{i}"
            sc.setJobGroup(group, q)
            eng.search(q, mode=mode, k=10).collect()
            assert len(tracker.getJobIdsForGroup(group)) <= 2, (q, mode)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_backslash_terms_round_trip_key_filters(spark, corpus):
    """The one-call Spark key predicate (escaped SQL literals) and the
    pyarrow point read select exactly the requested chunk keys."""
    idx, _docs, _oracle = corpus
    eng = QueryEngine(spark, idx)
    terms = sorted([SLASH, TRAIL, "w30"])
    every = sorted(
        (r["term"], r["salt"], r["chunk_seq"])
        for r in eng._chunks(terms).select("term", "salt", "chunk_seq")
        .collect()
    )
    assert {t for t, _s, _c in every} == set(terms)
    want = [key for key in every if key[0] != "w30"] + [
        key for key in every if key[0] == "w30"
    ][:2]
    spark_side = sorted(
        (r["term"], r["salt"], r["chunk_seq"])
        for r in eng._apply_keys(eng._chunks(terms), want)
        .select("term", "salt", "chunk_seq")
        .collect()
    )
    assert spark_side == sorted(want)
    arrow_side = eng._reader.decode_keys(want)
    assert sorted(arrow_side) == sorted(want)
    assert all(len(v[0]) for v in arrow_side.values())
