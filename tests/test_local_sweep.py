"""``search_local``'s disjunctive sweep runs in two passes: pass 1 scores
the segments whose bound reaches the metadata threshold
(``QueryEngine._meta_theta``) or, where that threshold is off or
undefined, the 16 top-bound segments; pass 2 scores every other segment
whose bound reaches pass 1's k-th best score. These tests pin the cases
where the two passes meet: ties at the k-th score split between them,
extreme ``k``, and each switch that turns the metadata threshold off.
Every answer is rank-identical to ``OracleIndex``.

The corpus gives one term, ``tie``, exactly the chunk layout the cases
need (one salt, 128-posting chunks, every doc four tokens long): three
low chunks whose docs all score ``s``, then twenty chunks that each
hold one doc scoring ``s' > s`` among docs scoring ``s``. As many docs
again lack ``tie``, so its idf is positive; ``common`` and ``pad`` are
in every doc (negative idf)."""

import copy
import shutil

import pytest

from search_engine_spark import maintenance
from search_engine_spark.build import IndexBuilder
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import QueryEngine

from tests.conftest import assert_rank_identical

CHUNK = 128
LOW, HIGH = 3, 20  # chunks of tf-1 docs only; chunks with one tf-2 doc
N_DOCS = (LOW + HIGH) * CHUNK  # the docs holding ``tie``
TOTAL = 2 * N_DOCS + 100


def tie_docs():
    docs = []
    for d in range(N_DOCS):
        top = d >= LOW * CHUNK and d % CHUNK == 64
        docs.append((d, "tie tie pad common" if top else "tie pad pad common"))
    docs += [(d, "pad pad pad common") for d in range(N_DOCS, TOTAL)]
    return docs


@pytest.fixture(scope="module")
def ties(spark, tmp_path_factory):
    docs = tie_docs()
    idx = str(tmp_path_factory.mktemp("ties") / "idx")
    IndexBuilder(spark, idx, n_salts=1, bucket_count=4).build(
        spark.createDataFrame(
            [(d, f"https://t/{d}", t) for d, t in docs],
            "doc_id long, url string, text string",
        )
    )
    return idx, OracleIndex(docs)


def check(eng, oracle, q, k):
    got = eng.search_local(q, k=k)
    want = oracle.topk(q, k=k)
    assert_rank_identical(got, want)
    # scores tie exactly here, so the doc order is exact too
    assert [d for d, _s in got] == [d for d, _s in want]
    return got, dict(eng.last_local_stats)


def test_ties_at_the_kth_score_straddle_the_passes(spark, ties):
    """k above every term's chunk count leaves no metadata threshold:
    pass 1 scores the 16 top-bound segments (high chunks 0-15), whose
    docs fill the k-th score with ties; pass 2 must still score the
    other segments whose bound equals that score, because their docs
    win the ties by doc id (the low chunks) or score higher (high
    chunks 16-19)."""
    idx, oracle = ties
    eng = QueryEngine(spark, idx)
    k = 30
    got, stats = check(eng, oracle, "tie", k)
    assert "theta0" not in stats
    assert stats["segments_total"] == LOW + HIGH
    assert stats["segments_processed"] == LOW + HIGH
    ids = [d for d, _s in got]
    # the ties at the k-th score come from pass 2 (the low chunks) ...
    assert ids[HIGH:] == list(range(k - HIGH))
    # ... and so do the top docs of high chunks 16-19
    assert ids[:HIGH] == [(LOW + c) * CHUNK + 64 for c in range(HIGH)]


def test_k_of_one_and_k_above_the_candidate_count(spark, ties):
    """k = 1 reads only the chunks whose bound reaches the best chunk
    bound; k above the candidate count returns every matching doc."""
    idx, oracle = ties
    eng = QueryEngine(spark, idx)
    got, stats = check(eng, oracle, "tie", 1)
    assert got[0][0] == LOW * CHUNK + 64
    assert "theta0" in stats
    assert stats["segments_processed"] == HIGH
    assert stats["chunks_decoded"] == HIGH
    got, stats = check(eng, oracle, "tie", N_DOCS + 50)
    assert len(got) == N_DOCS
    got, _stats = check(eng, oracle, "tie pad", TOTAL + 50)
    assert len(got) == TOTAL


def test_metadata_threshold_applies_when_valid(spark, ties):
    idx, oracle = ties
    eng = QueryEngine(spark, idx)
    for k in (10, HIGH + 2):
        _got, stats = check(eng, oracle, "tie", k)
        assert "theta0" in stats


def test_deletes_switch_the_metadata_threshold_off(spark, ties, tmp_path):
    """A tombstoned doc may attain a chunk bound; with deletes the sweep
    falls back to the 16 top-bound segments and stays exact (engine
    stats stay stale under tombstones, as the oracle's here)."""
    idx, oracle = ties
    copy_dir = str(tmp_path / "deleted")
    shutil.copytree(idx, copy_dir)
    deleted = [0, 5, LOW * CHUNK + 64, (LOW + 7) * CHUNK + 64]
    maintenance.delete_docs(spark, copy_dir, deleted)
    eng = QueryEngine(spark, copy_dir)
    for q, k in (("tie", 1), ("tie", 10), ("tie", 30), ("tie pad", 10)):
        got = eng.search_local(q, k=k)
        assert "theta0" not in eng.last_local_stats
        want = [
            (d, s) for d, s in oracle.topk(q, k=N_DOCS) if d not in deleted
        ][:k]
        assert_rank_identical(got, want)
        assert [d for d, _s in got] == [d for d, _s in want]


def test_stats_override_switches_the_metadata_threshold_off(spark, ties):
    """Rescaled bounds are no longer attained: under a stats override the
    sweep takes the 16 top-bound segments and scores with the foreign
    statistics."""
    idx, oracle = ties
    override = {"n_docs": 2 * N_DOCS, "avgdl": 6.0}
    eng = QueryEngine(spark, idx, stats_override=override)
    foreign = copy.copy(oracle)
    foreign.n_docs, foreign.avgdl = override["n_docs"], override["avgdl"]
    for k in (1, 10, 30):
        _got, stats = check(eng, foreign, "tie", k)
        assert "theta0" not in stats


def test_negative_idf_term_switches_the_metadata_threshold_off(
    spark, ties
):
    """``common`` is in every doc, so its idf is negative and another
    term's attained bound no longer bounds a doc's total from below."""
    idx, oracle = ties
    eng = QueryEngine(spark, idx)
    for k in (1, 10, 30):
        _got, stats = check(eng, oracle, "tie common", k)
        assert "theta0" not in stats
