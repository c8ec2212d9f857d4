"""Tests of the benchmark's own plumbing (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import harness  # noqa: E402


def small_corpus(seed: int = 5, n_docs: int = 300) -> gen.Corpus:
    return gen.Corpus(gen.CorpusParams(n_docs=n_docs, vocab_size=2000), seed)


def test_inputs_depend_only_on_seed():
    a, b, c = small_corpus(5), small_corpus(5), small_corpus(6)
    assert a.texts() == b.texts()
    assert a.texts() != c.texts()
    qa = gen.make_queries(a, gen.QueryParams(pool_size=50), 5)
    qb = gen.make_queries(b, gen.QueryParams(pool_size=50), 5)
    assert qa[0] == qb[0] and np.array_equal(qa[1], qb[1])


def test_query_pool_mix():
    corpus = small_corpus()
    pool, stream = gen.make_queries(corpus, gen.QueryParams(pool_size=100), 5)
    assert len(set(pool)) == 100
    modes = [m for _, m in pool]
    assert modes.count("conjunctive") == 30
    assert {len(q.split()) for q, _ in pool} == {1, 2, 3, 4}
    df = corpus.df()
    vocab = {w: i for i, w in enumerate(corpus.vocab)}
    terms = [vocab[w] for q, _ in pool for w in q.split()]
    assert any(df[t] > corpus.n_docs / 2 for t in terms)  # head terms
    # repeats: the stream is Zipf over the pool
    assert len(set(stream.tolist())) < len(stream)


def test_reference_agrees_with_engine_oracle():
    from search_engine_spark.oracle import OracleIndex

    corpus = small_corpus()
    ref = gen.Bm25Reference(corpus)
    oracle = OracleIndex(list(zip(corpus.doc_ids.tolist(), corpus.texts())))
    pool, _ = gen.make_queries(corpus, gen.QueryParams(pool_size=40), 5)
    for q, mode in pool:
        want = ref.topk(q, mode, 10)
        got = oracle.topk(q, mode, 10)
        assert gen.topk_matches(got, want, ref.scores(q, mode)), (q, mode)


def test_topk_matches_rejects_wrong_answers():
    scores = {1: 3.0, 2: 2.0, 3: 2.0, 4: 1.0}
    want = [(1, 3.0), (2, 2.0)]
    assert gen.topk_matches([(1, 3.0), (2, 2.0)], want, scores)
    # a tie at the cut-off may resolve either way
    assert gen.topk_matches([(1, 3.0), (3, 2.0)], want, scores)
    assert not gen.topk_matches([(1, 3.0), (4, 1.0)], want, scores)
    assert not gen.topk_matches([(1, 3.0)], want, scores)
    assert not gen.topk_matches([(1, 3.0), (1, 3.0)], want, scores)
    assert not gen.topk_matches([(1, 3.5), (2, 2.0)], want, scores)


def test_ops_record_injected_failure_and_keep_going():
    ops = harness.Ops(harness.Tracer(enabled=False))

    def boom():
        raise RuntimeError("injected")

    assert ops.run("search", boom) is harness.Ops.FAILED
    assert ops.run("search", lambda: 7) == 7
    ops.wrong("search")
    assert ops.attempted == 2
    assert ops.failed == 2
    assert ops.failure_table() == {
        "search:RuntimeError": 1,
        "search:WrongAnswer": 1,
    }
    assert len(ops.seconds["search"]) == 1


def test_best_takes_each_keyed_ops_fastest_repeat():
    ops = harness.Ops(harness.Tracer(enabled=False))
    for _ in range(3):
        for key in ("a", "b"):
            ops.run("op", lambda: None, key=key)
    assert len(ops.seconds["op"]) == 6
    assert ops.best("op") == [min(ops.repeats["op"][k]) for k in ("a", "b")]
    ops.run("other", lambda: None)
    assert ops.best("other") == ops.seconds["other"]


def test_tracer_self_time_and_requests(tmp_path):
    tr = harness.Tracer(enabled=True)
    req = tr.new_request()
    with tr.span("op", req):
        with tr.span("child"):
            pass
    (_, t_op, s_op), (_, t_child, s_child) = (
        tr.self_times()["op"], tr.self_times()["child"]
    )
    assert s_child == pytest.approx(t_child)
    assert s_op == pytest.approx(t_op - t_child)
    assert tr.spans[1][3] == 0 and tr.spans[1][4] == req
    tr.write(str(tmp_path / "spans.jsonl"))
    rows = [json.loads(x) for x in open(tmp_path / "spans.jsonl")]
    assert [r["name"] for r in rows] == ["op", "child"]


def test_quantile_matches_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0, 10.0]
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        assert harness.quantile(xs, q) == pytest.approx(np.quantile(xs, q))


def test_benchmark_json_lists_the_reported_metrics():
    import layers

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == layers.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == layers.PER_LAYER


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
