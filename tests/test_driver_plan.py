"""search() and batch_search answered on the driver: below METADATA_CAP
on the parquet layout the chunk metadata, the phase-1 theta probe and
the final scoring all come from the engine's SegmentReader, and the
result frame collects without a Spark job. Answers must stay
rank-identical to the pure-Python oracle and to the Spark final job
(``LOCAL_THETA=False``) in every mode and option, and the key filters
must survive terms that need escaping."""

import itertools
import shutil

import numpy as np
import pytest

import search_engine_spark.query as query_mod
from search_engine_spark import maintenance, segment
from search_engine_spark.build import IndexBuilder
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import MultiIndexQueryEngine, QueryEngine
from search_engine_spark.tokenizer import tokenize_query

from tests.conftest import assert_rank_identical

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


def zipf_docs(n_docs: int = 3000, seed: int = 11, n_words: int = 300,
              length=(20, 60)):
    """Zipf(1.1) text over ``n_words`` words: head words in most docs
    (negative idf), a long positive-idf tail; two backslash terms in a
    few docs."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, n_words + 1) ** 1.1
    p /= p.sum()
    docs = []
    for d in range(n_docs):
        words = [
            f"w{i}" for i in rng.choice(n_words, rng.integers(*length), p=p)
        ]
        if d % 97 == 5:
            words += [SLASH, TRAIL, "w4"]
        docs.append((d, " ".join(words)))
    return docs


def build(spark, path, docs, n_salts=4, bucket_count=8):
    df = spark.createDataFrame(
        [(d, f"https://t/{d}", t) for d, t in docs],
        "doc_id long, url string, text string",
    )
    IndexBuilder(
        spark, path, n_salts=n_salts, bucket_count=bucket_count
    ).build(df, resume=False)
    return path


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    docs = zipf_docs()
    idx = build(spark, str(tmp_path_factory.mktemp("dplan") / "idx"), docs)
    return idx, docs, OracleIndex(docs)


@pytest.fixture(scope="module")
def segments(spark, corpus, tmp_path_factory):
    """The corpus split into two disjoint segments."""
    _idx, docs, _oracle = corpus
    root = tmp_path_factory.mktemp("dplan_segs")
    a = build(spark, str(root / "a"), [x for x in docs if x[0] < 1800])
    b = build(spark, str(root / "b"), [x for x in docs if x[0] >= 1800])
    return a, b


def rows_of(df, explain=False):
    rows = df.collect()
    if explain:
        for r in rows:
            assert abs(sum(t["score"] for t in r["terms"]) - r["score"]) < 1e-4
            assert [t["term"] for t in r["terms"]] == sorted(
                t["term"] for t in r["terms"]
            )
    return [(r["doc_id"], float(r["score"])) for r in rows]


def explain_of(df):
    """{doc_id: (doc_length, [(term, score, tf)])} of an explain frame."""
    return {
        r["doc_id"]: (
            r["doc_length"],
            [(t["term"], t["score"], t["tf"]) for t in r["terms"]],
        )
        for r in df.collect()
    }


def batch_rows(df):
    """{query_id: [(doc_id, score)] in rank order} of a batch frame."""
    by_q: dict[int, list] = {}
    for r in df.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], float(r["score"]))
        )
    return {q: [(d, s) for _r, d, s in sorted(v)] for q, v in by_q.items()}


def both_scorers(monkeypatch, eng, fn):
    """``fn()`` with the driver scorer, then with the Spark probe and
    final job forced (``LOCAL_THETA=False``); each with the engine's
    ``last_plan_stats``."""
    out = []
    for local in (True, False):
        monkeypatch.setattr(query_mod, "LOCAL_THETA", local)
        got = fn()
        out.append((got, dict(eng.last_plan_stats)))
    monkeypatch.setattr(query_mod, "LOCAL_THETA", True)
    return out


_groups = itertools.count()


def count_jobs(spark, fn):
    """(fn(), the Spark jobs started while it ran): the jobs of a fresh
    job group on this thread, plus any started without a group (the
    scatter-gather pool's threads do not inherit it)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"driver-plan-jobs-{next(_groups)}"
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ungrouped = [j for j in tracker.getJobIdsForGroup(None) if j > before]
    return out, len(tracker.getJobIdsForGroup(group)) + len(ungrouped)


@pytest.fixture(scope="module")
def deleted_corpus(spark, corpus, tmp_path_factory):
    """A copy of the corpus index with the top 3 docs of every QUERIES
    entry, in both modes, tombstoned: (index dir, deleted doc ids)."""
    idx, _docs, oracle = corpus
    copy = str(tmp_path_factory.mktemp("dplan_del") / "idx")
    shutil.copytree(idx, copy)
    deleted = set()
    for q, _mode in QUERIES:
        for mode in query_mod.MODES:
            deleted |= {d for d, _ in oracle.topk(q, mode=mode, k=3)}
    maintenance.delete_docs(spark, copy, sorted(deleted))
    return copy, deleted


EXCLUDE = "w5"  # search_not's excluded term in the differential test


@pytest.mark.parametrize("opt", ["explain", "float64"])
@pytest.mark.parametrize("mode", query_mod.MODES)
@pytest.mark.parametrize("case", ["plain", "deleted", "not"])
@pytest.mark.parametrize("path", ["driver", "spark", "banded"])
def test_search_differential(
    spark, corpus, deleted_corpus, path, case, mode, opt, monkeypatch
):
    """Every QUERIES entry, in both modes, through ``search()`` (or
    ``search_not``) is rank-identical to the oracle on each planner
    path: scored on the driver, by the Spark jobs (``LOCAL_THETA``
    off), and planned above ``METADATA_CAP`` (the distributed banded
    planner); on the plain index, after ``delete_docs`` and with a NOT
    clause. ``explain`` rows also carry the oracle's doc lengths and
    per-term tfs."""
    idx, _docs, oracle = corpus
    drop: set[int] = set()
    if case == "deleted":
        idx, drop = deleted_corpus
    if path == "spark":
        monkeypatch.setattr(query_mod, "LOCAL_THETA", False)
    elif path == "banded":
        monkeypatch.setattr(query_mod, "METADATA_CAP", 1)
    explain = opt == "explain"
    dtype = np.float64 if opt == "float64" else np.float32
    if case == "not":
        drop = {d for d, _tf in oracle.postings[EXCLUDE]}
    with QueryEngine(spark, idx) as eng:
        for q, _mode in QUERIES:
            if case == "not":
                df = eng.search_not(q, EXCLUDE, mode=mode, k=10,
                                    explain=explain, dtype=dtype)
            else:
                df = eng.search(q, mode=mode, k=10, explain=explain,
                                dtype=dtype)
            rows = df.collect()
            want = [
                (d, s) for d, s in oracle.topk(q, mode=mode, k=10**6)
                if d not in drop
            ][:10]
            assert_rank_identical(
                [(r["doc_id"], float(r["score"])) for r in rows], want
            )
            for r in rows if explain else ():
                d = r["doc_id"]
                assert r["doc_length"] == oracle.doc_lengths[d], (q, d)
                assert [t["term"] for t in r["terms"]] == sorted(
                    t["term"] for t in r["terms"]
                )
                assert abs(sum(t["score"] for t in r["terms"])
                           - r["score"]) < 1e-4, (q, d)
                assert {t["term"]: t["tf"] for t in r["terms"]} == {
                    t: tf for t in tokenize_query(q)
                    for doc, tf in oracle.postings.get(t, ()) if doc == d
                }, (q, d)


@pytest.mark.parametrize("explain", [False, True])
@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_driver_plan_rank_identity(spark, corpus, explain, dtype,
                                   monkeypatch):
    idx, _docs, oracle = corpus
    # the corpus is far below BATCH_PRUNE_FLOOR; the probe must run
    monkeypatch.setattr(query_mod, "BATCH_PRUNE_FLOOR", 0)
    eng = QueryEngine(spark, idx)
    probes = set()
    for q, mode in QUERIES:
        got = rows_of(
            eng.search(q, mode=mode, k=10, explain=explain, dtype=dtype),
            explain,
        )
        assert_rank_identical(got, oracle.topk(q, mode=mode, k=10))
        st = eng.last_plan_stats
        assert st["pruner"] == "batch_wand", st
        assert st["scorer"] == "local", st
        assert st["driver_jobs"] == 0, st  # nothing left for Spark
        probes.add(st.get("theta_probe"))
    assert "local" in probes  # the driver-side phase-1 probe ran


@pytest.mark.parametrize("explain", [False, True])
@pytest.mark.parametrize("dtype", [np.float32, np.float64])
def test_driver_scorer_matches_spark_job(
    spark, corpus, explain, dtype, monkeypatch
):
    """The driver scorer and the Spark final job return the same rows:
    doc ids in order, scores to float rounding, and with ``explain``
    equal doc lengths and ``terms`` arrays."""
    idx, _docs, oracle = corpus
    eng = QueryEngine(spark, idx)
    for q, mode in QUERIES:
        (local, l_st), (spark_job, s_st) = both_scorers(
            monkeypatch, eng,
            lambda: eng.search(q, mode=mode, k=10, explain=explain,
                               dtype=dtype),
        )
        assert (l_st["scorer"], s_st["scorer"]) == ("local", "spark")
        assert l_st["pruner"] == s_st["pruner"]
        got = rows_of(local, explain)
        assert_rank_identical(got, rows_of(spark_job, explain), tol=1e-6)
        assert_rank_identical(got, oracle.topk(q, mode=mode, k=10))
        if explain:
            assert explain_of(local) == explain_of(spark_job)


def test_driver_plan_multi_segment(spark, corpus, segments, monkeypatch):
    """Two disjoint segments served with global stats (each segment
    engine plans under a stats override) equal one build of the union,
    with either scorer."""
    _idx, _docs, oracle = corpus
    with MultiIndexQueryEngine(spark, list(segments), offsets=[0, 0]) as multi:
        for q, mode in QUERIES:
            (local, _), (spark_job, _) = both_scorers(
                monkeypatch, multi.engines[0],
                lambda: rows_of(multi.search(q, mode=mode, k=10)),
            )
            assert_rank_identical(local, oracle.topk(q, mode=mode, k=10))
            assert_rank_identical(local, spark_job, tol=1e-6)
        assert all(e.has_stats_override for e in multi.engines)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_batch_search_driver_scorer(spark, corpus, mode, monkeypatch):
    """batch_search's final scoring runs on the driver below the cap and
    matches the Spark job and the oracle query by query — with the
    shared phase-1 probe (``BATCH_PRUNE_FLOOR`` 0) and without it."""
    idx, _docs, oracle = corpus
    eng = QueryEngine(spark, idx)
    queries = list(enumerate(q for q, _mode in QUERIES))
    for floor in (0, query_mod.BATCH_PRUNE_FLOOR):
        monkeypatch.setattr(query_mod, "BATCH_PRUNE_FLOOR", floor)
        (local, l_st), (spark_job, s_st) = both_scorers(
            monkeypatch, eng,
            lambda: batch_rows(eng.batch_search(queries, mode=mode, k=10)),
        )
        assert (l_st["scorer"], s_st["scorer"]) == ("local", "spark")
        assert l_st["driver_jobs"] == 0, l_st
        assert l_st.get("thetas") == s_st.get("thetas")
        for qid, q in queries:
            want = oracle.topk(q, mode=mode, k=10)
            assert_rank_identical(local.get(qid, []), want)
            assert_rank_identical(
                local.get(qid, []), spark_job.get(qid, []), tol=1e-6
            )


def test_kept_set_above_keys_cap_runs_spark_job(spark, corpus, monkeypatch):
    """A kept set above KEYS_COLLECT_CAP is not scored on the driver:
    the Spark final job runs and returns the same ranking."""
    idx, _docs, oracle = corpus
    eng = QueryEngine(spark, idx)
    q = "w0 w2 w9 w33"
    local = rows_of(eng.search(q, k=10))
    assert eng.last_plan_stats["scorer"] == "local"
    kept = eng.last_plan_stats["chunks_kept"]
    monkeypatch.setattr(query_mod, "KEYS_COLLECT_CAP", kept - 1)
    over = rows_of(eng.search(q, k=10))
    st = eng.last_plan_stats
    assert st["chunks_kept"] == kept and st["scorer"] == "spark", st
    assert st["driver_jobs"] >= 1, st
    assert_rank_identical(over, local, tol=1e-6)
    assert_rank_identical(over, oracle.topk(q, k=10))


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

    def spy(self, paths, cols, expr):
        for part in read(self, paths, cols, expr):
            if "payload" not in cols:
                meta_rows.append(part.num_rows)
            yield part

    monkeypatch.setattr(segment.SegmentReader, "_read", spy)
    eng = QueryEngine(spark, idx)
    q = "w0 w1 w2"
    terms = q.split()
    assert eng._reader.rows(terms, cap=cap, postings=False) is None
    assert sum(meta_rows[:-1]) <= cap < sum(meta_rows)
    stopped_at = sum(meta_rows)
    assert eng._reader.rows(terms, postings=False).n_rows > stopped_at

    meta_rows.clear()
    for _ in range(2):
        got = rows_of(eng.search(q, k=10))
        assert eng.last_plan_stats["pruner"] == "batch_banded_wand"
        assert_rank_identical(got, oracle.topk(q, k=10))
    assert sum(meta_rows) == stopped_at  # first query only


def test_capped_read_pins_at_most_cap_rows(spark, corpus, monkeypatch):
    """Under a cap far below ``pin_rows``, an above-cap term set spread
    over several small files returns None having pinned files of at most
    ``cap`` rows together; the files past that budget are streamed
    (metadata only), not read whole."""
    idx, _docs, _oracle = corpus
    terms = ["w0", "w1", "w2"]
    probe = QueryEngine(spark, idx)._reader
    n_match = probe.rows(terms, postings=False).n_rows
    sizes = [probe.file_rows(p) for p in probe._paths(terms)]
    cap = n_match - 1
    assert len(sizes) > 2 and min(sizes) <= cap < sum(sizes)
    streamed = []
    read = segment.SegmentReader._read

    def spy(self, paths, cols, expr):
        streamed.extend(paths)
        assert "payload" not in cols
        return read(self, paths, cols, expr)

    monkeypatch.setattr(segment.SegmentReader, "_read", spy)
    reader = QueryEngine(spark, idx)._reader
    assert reader.pin_rows > cap
    assert reader.rows(terms, cap=cap, postings=False) is None
    held = [reader.file_rows(p) for p in reader._tables]
    assert held and sum(held) <= cap
    assert streamed and not set(streamed) & set(reader._tables)


def test_driver_jobs_match_started_jobs(spark, corpus):
    """``driver_jobs`` counts the Spark jobs search() + collect() really
    start: none, on a fresh engine too (no schema read of the chunks
    stage is left on the driver path)."""
    idx, _docs, _oracle = corpus
    eng = QueryEngine(spark, idx)
    for q, mode in QUERIES:
        _rows, n = count_jobs(
            spark, lambda: eng.search(q, mode=mode, k=10).collect()
        )
        assert eng.last_plan_stats["driver_jobs"] == n == 0, (q, mode)


def test_empty_result_frame_starts_no_job(spark, corpus):
    idx, _docs, _oracle = corpus
    eng = QueryEngine(spark, idx)
    for q, mode in (("nosuchterm", "disjunctive"), ("", "disjunctive"),
                    ("w7 nosuchterm", "conjunctive")):
        rows, n = count_jobs(
            spark, lambda: eng.search(q, mode=mode, k=10).collect()
        )
        if q.startswith("w7"):
            # the absent term drops (reference openList skip)
            assert rows
        else:
            assert rows == []
        assert n == 0, q


def test_unindexed_query_resets_stats(spark, corpus):
    """A query with no indexed term (or no term at all) leaves stats of
    its own: ``search()``, ``batch_search`` and ``search_local`` used
    to return early and leave the previous query's stats in
    ``last_plan_stats``/``last_local_stats``."""
    idx, _docs, _oracle = corpus
    eng = QueryEngine(spark, idx)
    for run in (
        lambda q: eng.search(q, k=10).collect(),
        lambda q: eng.batch_search([(0, q)], k=10).collect(),
    ):
        run("w1 w20 w45")
        assert eng.last_plan_stats["chunks_total"] > 0
        for q in ("nosuchterm", ""):
            run(q)
            assert eng.last_plan_stats["chunks_total"] == 0, q
    for q in ("nosuchterm", ""):
        eng.search_local("w1 w20 w45", k=10)
        assert eng.last_local_stats["chunks_total"] > 0
        eng.search_local(q, k=10)
        assert eng.last_local_stats["chunks_total"] == 0, q


def test_multi_segment_search_starts_no_job(spark, corpus, segments):
    """A warm two-segment engine answers a below-cap search() — the
    per-segment driver scoring and the merged top-k frame — without a
    Spark job."""
    _idx, _docs, oracle = corpus
    with MultiIndexQueryEngine(spark, list(segments), offsets=[0, 0]) as multi:
        for q, mode in QUERIES + [("nosuchterm", "disjunctive")]:
            multi.search(q, mode=mode, k=10).collect()  # lexicon lookups
            rows, n = count_jobs(
                spark, lambda: rows_of(multi.search(q, mode=mode, k=10))
            )
            assert n == 0, (q, mode)
            assert_rank_identical(rows, oracle.topk(q, mode=mode, k=10))


def test_backslash_terms_round_trip_key_filters(spark, corpus):
    """The one-call Spark key predicate (escaped SQL literals) and the
    driver's rows of a key set (``ChunkRows.find``, read by
    ``ChunkRows.gather``) select exactly the requested chunk keys."""
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
    cr = eng._reader.rows(terms)
    rows = cr.find(want)
    assert sorted(cr.key(r) for r in rows.tolist()) == sorted(want)
    for t in terms:
        mine = [r for r in rows.tolist() if cr.key(r)[0] == t]
        ids = cr.gather(mine)[0]
        assert len(ids) and (np.diff(ids) > 0).all(), t


def test_many_group_key_predicate_batch(spark, tmp_path, monkeypatch):
    """The Spark key filter of a 50-query batch_search over thousands of
    (term, salt) groups: a left-deep OR chain of that many branches
    overflows the JVM stack (StackOverflowError in the SQL parser, here
    as at 100k docs); the balanced OR must plan, run and match the
    oracle."""
    docs = zipf_docs(n_docs=4000, seed=5, n_words=120, length=(8, 16))
    idx = build(spark, str(tmp_path / "salted"), docs, n_salts=200,
                bucket_count=4)
    oracle = OracleIndex(docs)
    groups = []
    keys_sql = segment.keys_sql

    def spy(keys):
        groups.append(len(segment.key_groups(keys)))
        return keys_sql(keys)

    monkeypatch.setattr(segment, "keys_sql", spy)
    monkeypatch.setattr(query_mod, "LOCAL_THETA", False)
    rng = np.random.default_rng(3)
    queries = [
        (i, " ".join(f"w{j}" for j in rng.choice(
            np.arange(20, 120), 3, replace=False)))
        for i in range(50)
    ]
    eng = QueryEngine(spark, idx)
    got = batch_rows(eng.batch_search(queries, k=10))
    st = eng.last_plan_stats
    assert st["scorer"] == "spark", st
    assert st["chunks_kept"] <= query_mod.KEYS_COLLECT_CAP, st
    assert max(groups) >= 2000, (groups, st)
    for qid, q in queries:
        assert_rank_identical(got.get(qid, []), oracle.topk(q, k=10))


def entry_points(spark, corpus, segments):
    """Every public entry taking ``k`` and ``mode``, as name -> call."""
    idx, _docs, _oracle = corpus
    eng = QueryEngine(spark, idx)
    multi = MultiIndexQueryEngine(spark, list(segments), offsets=[0, 0])
    q = "w7 w20"
    return {
        "search": lambda **kw: eng.search(q, **kw),
        "search_not": lambda **kw: eng.search_not(q, "w1", **kw),
        "search_local": lambda **kw: eng.search_local(q, **kw),
        "batch_search": lambda **kw: eng.batch_search([(0, q)], **kw),
        "multi.search": lambda **kw: multi.search(q, **kw),
        "multi.search_local": lambda **kw: multi.search_local(q, **kw),
        "multi.search_not": lambda **kw: multi.search_not(q, "w1", **kw),
        # no segment holds the term: refused before any segment is asked
        "multi.search_not[unindexed]": lambda **kw: multi.search_not(
            "nosuchterm", "w1", **kw
        ),
    }


def assert_refused(calls, match, **kw):
    for name, call in calls.items():
        with pytest.raises(ValueError, match=match):
            call(**kw)
            pytest.fail(f"{name} accepted {kw}")


def test_negative_k_refused(spark, corpus, segments):
    """``search(q, k=-1)`` used to return rows instead of failing."""
    assert_refused(entry_points(spark, corpus, segments), "k must be", k=-1)


def test_zero_k_refused(spark, corpus, segments):
    """``search_local(q, k=0)`` used to raise IndexError."""
    assert_refused(entry_points(spark, corpus, segments), "k must be", k=0)


@pytest.mark.parametrize("k", [2.5, True, "10"])
def test_non_int_k_refused(spark, corpus, segments, k):
    """``k=2.5`` used to raise TypeError, ``k=True`` to run as 1."""
    assert_refused(entry_points(spark, corpus, segments), "k must be", k=k)


def test_unknown_mode_refused(spark, corpus, segments):
    """``mode="bogus"`` used to run as disjunctive on both paths."""
    assert_refused(
        entry_points(spark, corpus, segments), "mode must be", mode="bogus"
    )


def test_duplicate_batch_ids_refused(spark, corpus):
    """Two queries under one id used to be merged into one query."""
    idx, _docs, _oracle = corpus
    eng = QueryEngine(spark, idx)
    with pytest.raises(ValueError, match="distinct"):
        eng.batch_search([(1, "w7"), (1, "w20")], k=10)


def test_lone_surrogate_refused(spark, corpus):
    """Query text with a lone surrogate is refused by the tokenizer with
    a plain ValueError on both paths (it used to surface as a raw
    UnicodeEncodeError from deeper down)."""
    idx, _docs, _oracle = corpus
    eng = QueryEngine(spark, idx)
    for call in (
        lambda: tokenize_query("w7 \ud800"),
        lambda: eng.search("w7 \ud800", k=10),
        lambda: eng.search_local("\ud800", k=10),
    ):
        with pytest.raises(ValueError, match="lone surrogate") as got:
            call()
        assert got.type is ValueError


# the other public methods taking ``k`` and/or ``mode``: name -> (call
# on an engine, takes k, takes mode)
GUARDED = {
    "search_collapsed": (
        lambda e, **kw: e.search_collapsed("w7 w20", **kw), True, True
    ),
    "prefix_search": (lambda e, **kw: e.prefix_search("w7*", **kw), True, False),
    "fuzzy_search": (lambda e, **kw: e.fuzzy_search("w7", **kw), True, False),
    "phrase_search": (lambda e, **kw: e.phrase_search("w7 w20", **kw), True, False),
    "proximity_search": (
        lambda e, **kw: e.proximity_search("w7 w20", 3, **kw), True, False
    ),
    "ordered_window_search": (
        lambda e, **kw: e.ordered_window_search("w7 w20", 3, **kw), True, False
    ),
    "more_like_this": (lambda e, **kw: e.more_like_this(7, **kw), True, True),
    "facet_counts": (lambda e, **kw: e.facet_counts("w7 w20", **kw), False, True),
}


@pytest.mark.parametrize("name", sorted(GUARDED))
def test_other_entries_refuse_bad_k_and_mode(spark, corpus, segments, name):
    """Every other public method taking ``k`` or ``mode``, on one engine
    and on a segment stack, refuses a bad one with ValueError before any
    work (``k=0`` used to return an empty frame or fail later with
    another error, an unknown mode to run as disjunctive)."""
    idx, _docs, _oracle = corpus
    call, takes_k, takes_mode = GUARDED[name]
    engines = {
        "single": QueryEngine(spark, idx),
        "multi": MultiIndexQueryEngine(spark, list(segments), offsets=[0, 0]),
    }
    bad = ([{"k": 0}, {"k": True}] if takes_k else []) + (
        [{"mode": "bogus"}] if takes_mode else []
    )
    for kind, eng in engines.items():
        for kw in bad:
            with pytest.raises(ValueError, match="k must be|mode must be"):
                call(eng, **kw)
                pytest.fail(f"{kind} {name} accepted {kw}")
