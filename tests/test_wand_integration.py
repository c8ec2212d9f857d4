"""Block-max WAND integration: pruning must actually skip chunks on a
stop-word query (the north-star scenario: `the AND rare` should not
decode every chunk of `the`) while staying rank-identical to the
exhaustive path."""

import shutil
import tempfile

import pytest

import search_engine_spark.query as query_mod
from search_engine_spark.build import IndexBuilder
from search_engine_spark.query import QueryEngine


@pytest.fixture(scope="module")
def engine(spark):
    """3000-doc synthetic corpus: every doc contains the stop word
    'the'; 10 docs in a NARROW doc-id band also contain the high-idf
    term 'rare' (the classic `the AND rare` block-skipping scenario)."""
    index_dir = tempfile.mkdtemp(prefix="seidx_wand_")
    rows = []
    for i in range(3000):
        text = f"the filler{i} pad{i % 7} common words here"
        if 2900 <= i < 2910:
            text += " rare rare rare rare rare"
        if i % 280 == 3:  # UNIFORMLY SPREAD sparse term (worst case for
            text += " sparse sparse"  # interval/bound granularity)
        rows.append((i, f"https://t/doc/{i}", text))
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    IndexBuilder(spark, index_dir, n_salts=4, bucket_count=8).build(
        docs, resume=False
    )
    yield QueryEngine(spark, index_dir)
    shutil.rmtree(index_dir, ignore_errors=True)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_spark_wand_prunes_and_matches_fallback(engine, mode, monkeypatch):
    wand_rows = [
        (r["doc_id"], round(r["score"], 4))
        for r in engine.search("the rare", mode=mode, k=5).collect()
    ]
    stats = dict(engine.last_plan_stats)
    # disjunctive: score-bound sweep; conjunctive with a rare pivot:
    # posting-level nextGEQ refinement
    expected = "pivot_nextgeq" if mode == "conjunctive" else "block_max_wand"
    assert stats["pruner"] == expected, stats
    # the stop word's chunks must NOT all be decoded
    assert stats["chunks_kept"] < stats["chunks_total"], stats

    # exhaustive fallback path (force the planner cap to 0 AND disable
    # the distributed banded planner that now takes over above the cap)
    monkeypatch.setattr(query_mod, "METADATA_CAP", 0)
    monkeypatch.setattr(query_mod, "BANDED_PLANNER", False)
    full_rows = [
        (r["doc_id"], round(r["score"], 4))
        for r in engine.search("the rare", mode=mode, k=5).collect()
    ]
    assert engine.last_plan_stats["pruner"] in ("intervals", "none")
    assert wand_rows == full_rows


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_banded_planner_prunes_above_metadata_cap(engine, mode, monkeypatch):
    """Force METADATA_CAP below the stop word's chunk count: the
    DISTRIBUTED banded planner must take over (pruner != 'intervals'),
    still skip chunks by score bound, and stay rank-identical to the
    driver-side WAND path."""
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
    assert stats["pruner"] == "banded_wand", stats
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    if mode == "disjunctive":
        # disjunctive over a stop word has many segments -> phase 1
        # must run and produce a score threshold; conjunctive can prune
        # to a handful of chunks by segment overlap alone, where the
        # phase-1 decode job would cost more than it saves
        assert "theta" in stats, stats
    assert rows == under_cap
    assert len(rows) == 5
    assert all(2900 <= d < 2910 for d, _s in rows)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_batch_search_prunes_shared_decode(engine, mode):
    """batch_search must WAND-prune the shared decode: on a stop-word
    query batch the union of per-query kept chunks is smaller than the
    full chunk set, while every query stays rank-identical to its
    single-query result."""
    from tests.test_query import assert_rank_identical

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
    # prune_floor=0: this corpus is far below BATCH_PRUNE_FLOOR, and the
    # test exercises the threshold probe itself
    rows = engine.batch_search(
        queries, mode=mode, k=5, prune_floor=0
    ).collect()
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

    # escape hatch reproduces the unpruned plan
    engine.batch_search(queries, mode=mode, k=5, prune=False)
    assert engine.last_plan_stats["pruner"] == "none"

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
            engine.batch_search(
                [(7, "the sparse")], mode=mode, k=5, prune_floor=0
            ).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert_rank_identical(got, want)


@pytest.fixture(scope="module")
def skewed_engine(spark):
    """2000 docs; 'hot' in docs 0-799 (df<N/2 -> positive idf), with
    tf=10 in docs 0-639 and tf=1 in 640-799: the first five 128-posting
    chunks carry a much higher attained bound than the last two, so the
    k-th highest CHUNK bound alone already separates the top-k."""
    index_dir = tempfile.mkdtemp(prefix="seidx_meta_theta_")
    rows = []
    for i in range(2000):
        text = f"doc{i} misc words"
        if i < 800:
            text += " hot" * (10 if i < 640 else 1)
        if 400 <= i < 1200:
            text += " warm"
        rows.append((i, f"https://t/doc/{i}", text))
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    IndexBuilder(spark, index_dir, n_salts=2, bucket_count=8).build(
        docs, resume=False
    )
    yield QueryEngine(spark, index_dir)
    shutil.rmtree(index_dir, ignore_errors=True)


@pytest.mark.parametrize("q", ["hot", "hot warm"])
def test_meta_theta_skips_phase1_decode(skewed_engine, q, monkeypatch):
    """When the chunk-bound distribution separates cleanly, the k-th
    highest chunk bound is a valid theta WITHOUT any decode probe:
    search() must issue exactly 1 Spark action (the final job; the
    driver reads the metadata), still prune, and stay rank-identical to
    the exhaustive path."""
    eng = skewed_engine
    rows = [
        (r["doc_id"], round(r["score"], 4))
        for r in eng.search(q, mode="disjunctive", k=5).collect()
    ]
    stats = dict(eng.last_plan_stats)
    assert stats["pruner"] == "block_max_wand", stats
    assert "theta0" in stats, stats
    assert stats["driver_jobs"] == 1, stats
    assert "theta_probe" not in stats, stats
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    assert len(rows) == 5
    assert all(d < 640 for d, _s in rows), rows  # the tf=10 docs win

    # exhaustive fallback must agree
    monkeypatch.setattr(query_mod, "METADATA_CAP", 0)
    monkeypatch.setattr(query_mod, "BANDED_PLANNER", False)
    full = [
        (r["doc_id"], round(r["score"], 4))
        for r in eng.search(q, mode="disjunctive", k=5).collect()
    ]
    assert rows == full


def test_local_wand_skips_chunk_decodes(engine):
    res = engine.search_local("the rare", mode="disjunctive", k=5)
    stats = engine.last_local_stats
    assert stats["chunks_decoded"] < stats["chunks_total"], stats
    assert stats["segments_processed"] < stats["segments_total"], stats
    # top docs are the rare-term docs
    assert len(res) == 5
    assert all(2900 <= d < 2910 for d, _s in res)

    # identical to the exhaustive local path
    data_cols = [
        "term", "salt", "chunk_seq", "first_doc_id", "last_doc_id",
        "n", "codec", "payload", "dls",
    ]
    import pyarrow.dataset as pads

    ds = pads.dataset(
        f"{engine.index_dir}/chunks", format="parquet", partitioning="hive"
    )
    tbl = ds.to_table(
        filter=pads.field("term").isin(["the", "rare"]), columns=data_cols
    )
    data = {c: tbl.column(c).to_pylist() for c in data_cols}
    full = engine._search_local_full(data, "disjunctive", 5)
    assert [(d, round(s, 5)) for d, s in res] == [
        (d, round(s, 5)) for d, s in full
    ]


def test_conjunctive_local_prunes(engine):
    res = engine.search_local("the rare", mode="conjunctive", k=5)
    stats = engine.last_local_stats
    assert stats["chunks_decoded"] < stats["chunks_total"], stats
    assert len(res) == 5
    assert all(2900 <= d < 2910 for d, _s in res)


def test_pivot_nextgeq_beats_interval_granularity(engine, monkeypatch):
    """`the AND sparse` with sparse docs SPREAD across the whole id
    range: one sparse chunk spans everything, so interval/score-bound
    pruning is blind — only posting-level candidates prune the stop
    word's chunks."""
    rows = [
        (r["doc_id"], round(r["score"], 4))
        for r in engine.search("the sparse", mode="conjunctive", k=5).collect()
    ]
    stats = dict(engine.last_plan_stats)
    assert stats["pruner"] == "pivot_nextgeq"
    assert stats["candidates"] == 11  # docs 3, 283, ..., 2803
    # kept chunk count tracks the candidate count, not the stop word's
    # chunk count (pivot's own chunks + <=1 containing chunk/candidate)
    assert stats["chunks_kept"] <= stats["candidates"] + 5, stats
    assert stats["chunks_kept"] < stats["chunks_total"], stats
    assert len(rows) == 5 and all(d % 280 == 3 for d, _s in rows)

    monkeypatch.setattr(query_mod, "METADATA_CAP", 0)
    full = [
        (r["doc_id"], round(r["score"], 4))
        for r in engine.search("the sparse", mode="conjunctive", k=5).collect()
    ]
    assert rows == full

    # local path: same refinement (pivot chunks + <=1 chunk/candidate)
    res = engine.search_local("the sparse", mode="conjunctive", k=5)
    s = engine.last_local_stats
    assert s["chunks_decoded"] <= stats["candidates"] + 5, s
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


def test_batch_prune_floor_skips_probe_on_small_batches(engine):
    """Below BATCH_PRUNE_FLOOR total chunks, the phase-1 threshold job
    must not run (one extra Spark job costs more than decoding the
    whole sub-4k-chunk set); results must match the probed plan."""
    queries = [(0, "the rare"), (1, "rare pad3")]
    probed = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in engine.batch_search(
            queries, mode="disjunctive", k=5, prune_floor=0
        ).collect()
    )
    assert engine.last_plan_stats.get("thetas", 0) >= 1

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
    under = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 4))
        for r in engine.batch_search(
            queries, mode=mode, k=5, prune_floor=0
        ).collect()
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
    """The phase-1 threshold probe is planner-bounded (<= 64 top
    segments' covering chunks), so on a parquet layout it runs as a
    DRIVER point read (_theta_local) instead of a Spark job — per
    serve pass that deletes a fixed multi-second scheduling + scan
    cost. Both probes must leave the banded planners rank-identical,
    and the stats must show which one ran."""
    monkeypatch.setattr(query_mod, "METADATA_CAP", 4)
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

    monkeypatch.setattr(query_mod, "LOCAL_THETA", True)
    l_single, l_sstats, l_batch, l_bstats = snap()
    monkeypatch.setattr(query_mod, "LOCAL_THETA", False)
    d_single, d_sstats, d_batch, d_bstats = snap()

    assert l_single == d_single
    assert l_batch == d_batch
    if mode == "disjunctive":
        # disjunctive over the stop word always probes (many segments)
        assert l_sstats.get("theta_probe") == "local", l_sstats
        assert d_sstats.get("theta_probe") == "spark", d_sstats
        assert l_bstats.get("theta_probe") == "local", l_bstats
        assert d_bstats.get("theta_probe") == "spark", d_bstats
        assert "theta" in l_sstats and "theta" in d_sstats


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_search_not_composes_with_banded_planner(engine, mode, monkeypatch):
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
    # reference semantics: the exhaustive ranking minus excluded docs
    monkeypatch.setattr(query_mod, "METADATA_CAP", 0)
    monkeypatch.setattr(query_mod, "BANDED_PLANNER", False)
    full = [
        (r["doc_id"], round(r["score"], 5))
        for r in engine.search(
            "the rare", mode=mode, k=10**6, dtype=np.float64
        ).collect()
    ]
    neg = {
        r["doc_id"]
        for r in engine.search(
            "sparse", k=10**6, dtype=np.float64
        ).collect()
    }
    want = [x for x in full if x[0] not in neg][:5]
    assert banded == want
