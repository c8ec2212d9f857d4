"""Block-max WAND integration: pruning must actually skip chunks on a
stop-word query (the north-star scenario: `the AND rare` should not
decode every chunk of `the`) while staying rank-identical to the
pure-Python oracle."""

import shutil
import tempfile

import pytest

import search_engine_spark.query as query_mod
from search_engine_spark.build import IndexBuilder
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import QueryEngine

from tests.conftest import assert_rank_identical


def wand_rows() -> list[tuple[int, str, str]]:
    """3000 (doc_id, url, text) rows: every doc contains the stop word
    'the'; 10 docs in a NARROW doc-id band also contain the high-idf
    term 'rare' (the classic `the AND rare` block-skipping scenario)."""
    rows = []
    for i in range(3000):
        text = f"the filler{i} pad{i % 7} common words here"
        if 2900 <= i < 2910:
            text += " rare rare rare rare rare"
        if i % 280 == 3:  # UNIFORMLY SPREAD sparse term (worst case for
            text += " sparse sparse"  # interval/bound granularity)
        rows.append((i, f"https://t/doc/{i}", text))
    return rows


def skewed_rows() -> list[tuple[int, str, str]]:
    """2000 (doc_id, url, text) rows; 'hot' in docs 0-799 (df<N/2 ->
    positive idf), with tf=10 in docs 0-639 and tf=1 in 640-799: the
    first five 128-posting chunks carry a much higher attained bound
    than the last two, so the k-th highest CHUNK bound alone already
    separates the top-k."""
    rows = []
    for i in range(2000):
        text = f"doc{i} misc words"
        if i < 800:
            text += " hot" * (10 if i < 640 else 1)
        if 400 <= i < 1200:
            text += " warm"
        rows.append((i, f"https://t/doc/{i}", text))
    return rows


def build_engine(spark, rows, prefix: str, n_salts: int) -> QueryEngine:
    index_dir = tempfile.mkdtemp(prefix=prefix)
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    IndexBuilder(spark, index_dir, n_salts=n_salts, bucket_count=8).build(
        docs, resume=False
    )
    return QueryEngine(spark, index_dir)


@pytest.fixture(scope="module")
def engine(spark):
    eng = build_engine(spark, wand_rows(), "seidx_wand_", n_salts=4)
    yield eng
    shutil.rmtree(eng.index_dir, ignore_errors=True)


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex([(d, text) for d, _url, text in wand_rows()])


def search_rows(eng, query: str, **kw) -> list[tuple[int, float]]:
    return [
        (r["doc_id"], r["score"]) for r in eng.search(query, **kw).collect()
    ]


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_spark_wand_prunes_and_matches_oracle(
    engine, oracle, mode, monkeypatch
):
    # the Spark route's batch planner (the driver answers with its own
    # top-k otherwise). Disjunctive: the stop word's negative idf turns
    # the metadata threshold off, so pruning needs the phase-1 probe,
    # which this corpus (far below BATCH_PRUNE_FLOOR) only gets with the
    # floor at 0; conjunctive: segments covered by both terms only
    monkeypatch.setattr(query_mod, "LOCAL_THETA", False)
    monkeypatch.setattr(query_mod, "BATCH_PRUNE_FLOOR", 0)
    rows = search_rows(engine, "the rare", mode=mode, k=5)
    stats = dict(engine.last_plan_stats)
    assert stats["pruner"] == "batch_wand", stats
    # the stop word's chunks must NOT all be decoded
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    assert_rank_identical(rows, oracle.topk("the rare", mode=mode, k=5))


def test_negative_idf_query_prunes_below_floor(engine, oracle):
    """A driver-answered disjunctive search() whose stop word has a
    negative idf reads fewer chunks than its terms own, on a corpus
    below BATCH_PRUNE_FLOOR: the batch planner skipped its phase-1
    probe there and the metadata threshold is off for negative idf, so
    it kept every chunk."""
    rows = search_rows(engine, "the rare", k=5)
    stats = dict(engine.last_plan_stats)
    assert stats["chunks_total"] < query_mod.BATCH_PRUNE_FLOOR, stats
    assert stats["scorer"] == "local" and stats["segments"] > 16, stats
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    assert_rank_identical(rows, oracle.topk("the rare", k=5))


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_banded_planner_prunes_above_metadata_cap(engine, mode, monkeypatch):
    """Force METADATA_CAP below the stop word's chunk count: the
    DISTRIBUTED banded planner must take over, still skip chunks by
    score bound, and stay rank-identical to the driver-side WAND
    path."""
    under_cap = [
        (r["doc_id"], round(r["score"], 4))
        for r in engine.search("the rare", mode=mode, k=5).collect()
    ]

    monkeypatch.setattr(query_mod, "METADATA_CAP", 4)
    rows = [
        (r["doc_id"], round(r["score"], 4))
        for r in engine.search("the rare", mode=mode, k=5).collect()
    ]
    stats = dict(engine.last_plan_stats)
    assert stats["pruner"] == "batch_banded_wand", stats
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    if mode == "disjunctive":
        # disjunctive over a stop word has many segments -> phase 1
        # must run and produce a score threshold; conjunctive can prune
        # to a handful of chunks by segment overlap alone, where the
        # phase-1 decode job would cost more than it saves
        assert stats.get("thetas", 0) >= 1, stats
    assert rows == under_cap
    assert len(rows) == 5
    assert all(2900 <= d < 2910 for d, _s in rows)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_batch_search_prunes_shared_decode(engine, mode, monkeypatch):
    """batch_search must WAND-prune the shared decode: on a stop-word
    query batch the union of per-query kept chunks is smaller than the
    full chunk set, while every query stays rank-identical to its
    single-query result."""
    # NOTE: no "sparse" here — its single chunk spans the whole doc-id
    # space (uniform spread), which keeps every segment's bound above
    # theta; a batch containing it keeps all chunks (correctly — same
    # as single-query WAND at chunk granularity), checked separately.
    queries = [(0, "the rare"), (1, "rare pad3"), (2, "rare")]
    singles = {
        qid: [
            (r["doc_id"], r["score"])
            for r in engine.search(q, mode=mode, k=5).collect()
        ]
        for qid, q in queries
    }
    # the Spark route's shared decode; this corpus is far below
    # BATCH_PRUNE_FLOOR, and the test exercises the threshold probe
    # itself
    monkeypatch.setattr(query_mod, "LOCAL_THETA", False)
    monkeypatch.setattr(query_mod, "BATCH_PRUNE_FLOOR", 0)
    rows = engine.batch_search(queries, mode=mode, k=5).collect()
    stats = dict(engine.last_plan_stats)
    assert stats["pruner"] == "batch_wand", stats
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    if mode == "disjunctive":
        # conjunctive prunes by segment coverage alone here (few
        # segments -> no threshold probe); disjunctive needs theta
        assert stats.get("thetas", 0) >= 1, stats
        # ... and the thetas must also gate the FINAL aggregation
        # before the rank window (kth-best lower-bound score filter)
        assert stats.get("theta_filter", 0) >= 1, stats
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, want in singles.items():
        got = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
        assert_rank_identical(got, want)

    # a wide-interval rare term ("sparse" covers the whole doc space)
    # legitimately defeats chunk-granularity pruning; correctness must
    # still hold when it shares the batch
    want = [
        (r["doc_id"], r["score"])
        for r in engine.search("the sparse", mode=mode, k=5).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in sorted(
            engine.batch_search([(7, "the sparse")], mode=mode, k=5).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert_rank_identical(got, want)


@pytest.fixture(scope="module")
def skewed_engine(spark):
    eng = build_engine(spark, skewed_rows(), "seidx_meta_theta_", n_salts=2)
    yield eng
    shutil.rmtree(eng.index_dir, ignore_errors=True)


@pytest.mark.parametrize("q", ["hot", "hot warm"])
def test_meta_theta_skips_phase1_decode(skewed_engine, q):
    """When the chunk-bound distribution separates cleanly, the k-th
    highest chunk bound is a valid theta WITHOUT any decode probe:
    search() must start no Spark job (the driver reads the chunk rows
    and scores the segments reaching it first), still prune, and stay
    rank-identical to the oracle."""
    eng = skewed_engine
    rows = search_rows(eng, q, mode="disjunctive", k=5)
    stats = dict(eng.last_plan_stats)
    assert stats["pruner"] == "local_wand", stats
    assert "theta0" in stats, stats
    assert stats["driver_jobs"] == 0, stats
    assert "thetas" not in stats, stats
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    assert len(rows) == 5
    assert all(d < 640 for d, _s in rows), rows  # the tf=10 docs win
    oracle = OracleIndex([(d, text) for d, _url, text in skewed_rows()])
    assert_rank_identical(rows, oracle.topk(q, mode="disjunctive", k=5))


def test_local_wand_skips_chunk_decodes(engine, oracle):
    res = engine.search_local("the rare", mode="disjunctive", k=5)
    stats = engine.last_local_stats
    assert stats["chunks_decoded"] < stats["chunks_total"], stats
    assert stats["segments_processed"] < stats["segments_total"], stats
    # top docs are the rare-term docs
    assert len(res) == 5
    assert all(2900 <= d < 2910 for d, _s in res)
    assert_rank_identical(res, oracle.topk("the rare", k=5))


def test_conjunctive_local_prunes(engine):
    res = engine.search_local("the rare", mode="conjunctive", k=5)
    stats = engine.last_local_stats
    assert stats["chunks_decoded"] < stats["chunks_total"], stats
    assert len(res) == 5
    assert all(2900 <= d < 2910 for d, _s in res)


def test_pivot_nextgeq_beats_interval_granularity(engine, monkeypatch):
    """`the AND sparse` with sparse docs SPREAD across the whole id
    range: one sparse chunk spans everything, so interval/score-bound
    pruning is blind — only posting-level candidates (search_local's
    pivot) prune the stop word's chunks. search() plans it by segment
    coverage, below and above METADATA_CAP, with the same answer."""
    rows = [
        (r["doc_id"], round(r["score"], 4))
        for r in engine.search("the sparse", mode="conjunctive", k=5).collect()
    ]
    assert len(rows) == 5 and all(d % 280 == 3 for d, _s in rows)

    monkeypatch.setattr(query_mod, "METADATA_CAP", 0)
    full = [
        (r["doc_id"], round(r["score"], 4))
        for r in engine.search("the sparse", mode="conjunctive", k=5).collect()
    ]
    assert rows == full

    # kept chunk count tracks the 11 candidates (docs 3, 283, ..., 2803),
    # not the stop word's chunk count (pivot chunks + <=1 chunk per
    # candidate)
    res = engine.search_local("the sparse", mode="conjunctive", k=5)
    s = engine.last_local_stats
    assert s["chunks_decoded"] <= 11 + 5, s
    assert s["chunks_decoded"] < s["chunks_total"], s
    assert [(d, round(v, 4)) for d, v in res] == rows


def test_explain_per_term_detail(engine):
    rows = engine.search("the rare", mode="conjunctive", k=3, explain=True).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["doc_length"] > 0
        terms = [t["term"] for t in r["terms"]]
        assert terms == ["rare", "the"]
        total = sum(t["score"] for t in r["terms"])
        assert abs(total - r["score"]) < 1e-4
        rare = [t for t in r["terms"] if t["term"] == "rare"][0]
        assert rare["tf"] == 5


def test_batch_prune_floor_skips_probe_on_small_batches(
    engine, monkeypatch
):
    """Below BATCH_PRUNE_FLOOR total chunks, the Spark route's phase-1
    threshold job must not run (one extra Spark job costs more than
    decoding the whole sub-4k-chunk set); results must match the probed
    plan."""
    queries = [(0, "the rare"), (1, "rare pad3")]
    floor = query_mod.BATCH_PRUNE_FLOOR
    monkeypatch.setattr(query_mod, "LOCAL_THETA", False)
    monkeypatch.setattr(query_mod, "BATCH_PRUNE_FLOOR", 0)
    probed = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in engine.batch_search(
            queries, mode="disjunctive", k=5
        ).collect()
    )
    assert engine.last_plan_stats.get("thetas", 0) >= 1

    monkeypatch.setattr(query_mod, "BATCH_PRUNE_FLOOR", floor)
    floored = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in engine.batch_search(
            queries, mode="disjunctive", k=5  # default floor >> corpus
        ).collect()
    )
    assert "thetas" not in engine.last_plan_stats
    assert floored == probed


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_batch_banded_planner_above_metadata_cap(engine, mode, monkeypatch):
    """Above METADATA_CAP batch_search must not silently decode
    everything: the distributed banded batch planner runs the
    per-(query, band) segment sweep as a Spark job, prunes by per-query
    theta, and every query stays rank-identical to its under-cap batch
    result."""
    queries = [(0, "the rare"), (1, "rare pad3"), (2, "rare")]
    monkeypatch.setattr(query_mod, "BATCH_PRUNE_FLOOR", 0)
    under = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 4))
        for r in engine.batch_search(queries, mode=mode, k=5).collect()
    }

    monkeypatch.setattr(query_mod, "METADATA_CAP", 4)
    rows = engine.batch_search(queries, mode=mode, k=5).collect()
    stats = dict(engine.last_plan_stats)
    assert stats["pruner"] == "batch_banded_wand", stats
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    if mode == "disjunctive":
        assert stats.get("thetas", 0) >= 1, stats
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 4))
        for r in rows
    }
    assert got == under


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_local_theta_probe_matches_spark_probe(engine, mode, monkeypatch):
    """Above METADATA_CAP the banded planner's phase-1 threshold probe
    is a Spark job whatever ``LOCAL_THETA`` says (the driver answers
    whole queries below the cap, and probes nothing), and search() and
    batch_search then answer exactly as the driver's top-k does below
    the cap."""
    queries = [(0, "the rare"), (1, "rare pad3"), (2, "the sparse")]

    def snap():
        single = [
            (r["doc_id"], round(r["score"], 4))
            for r in engine.search("the rare", mode=mode, k=5).collect()
        ]
        s_stats = dict(engine.last_plan_stats)
        batch = {
            (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 4))
            for r in engine.batch_search(queries, mode=mode, k=5).collect()
        }
        b_stats = dict(engine.last_plan_stats)
        return single, s_stats, batch, b_stats

    d_single, d_sstats, d_batch, d_bstats = snap()
    assert d_sstats["scorer"] == d_bstats["scorer"] == "local"
    monkeypatch.setattr(query_mod, "METADATA_CAP", 4)
    for local in (True, False):
        monkeypatch.setattr(query_mod, "LOCAL_THETA", local)
        single, s_stats, batch, b_stats = snap()
        assert single == d_single
        assert batch == d_batch
        for st in (s_stats, b_stats):
            assert st["pruner"] == "batch_banded_wand", st
            assert st["scorer"] == "spark", st
            if mode == "disjunctive":
                # disjunctive over the stop word always probes
                assert st.get("thetas", 0) >= 1, st


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_search_not_composes_with_banded_planner(
    engine, oracle, mode, monkeypatch
):
    """Boolean NOT in the above-cap (banded-planner) regime: exclusion
    must anti-join at the same convergence point as the driver-WAND
    path, so both planners return the identical filtered ranking."""
    import numpy as np

    under_cap = [
        (r["doc_id"], round(r["score"], 5))
        for r in engine.search_not(
            "the rare", "sparse", mode=mode, k=5, dtype=np.float64
        ).collect()
    ]
    monkeypatch.setattr(query_mod, "METADATA_CAP", 4)
    banded = [
        (r["doc_id"], round(r["score"], 5))
        for r in engine.search_not(
            "the rare", "sparse", mode=mode, k=5, dtype=np.float64
        ).collect()
    ]
    assert banded == under_cap
    # reference semantics: the oracle's ranking minus excluded docs
    neg = {d for d, _tf in oracle.postings["sparse"]}
    full = oracle.topk("the rare", mode=mode, k=10**6)
    want = [x for x in full if x[0] not in neg][:5]
    assert_rank_identical(banded, want)


def test_boundless_index_rejected(spark, engine, tmp_path):
    """An index whose chunk files lack the block-max bound columns (as
    written before bounds were stored) is refused when an engine opens
    it, with the rebuild message, instead of being served by a planner
    that would need them."""
    import glob

    import pyarrow.parquet as pq

    copy = str(tmp_path / "boundless")
    shutil.copytree(engine.index_dir, copy)
    paths = glob.glob(f"{copy}/chunks/**/*.parquet", recursive=True)
    assert paths
    for path in paths:
        tbl = pq.ParquetFile(path).read()
        pq.write_table(tbl.drop_columns(["max_ratio", "min_ratio"]), path)
    with pytest.raises(ValueError, match="rebuild"):
        QueryEngine(spark, copy)
