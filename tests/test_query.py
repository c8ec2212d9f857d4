"""Query rank-identity vs the pure-Python oracle (SURVEY.md §5.4) on the
real sf0.001 corpus, for both the Spark DataFrame path and the
driver-local fast path, conjunctive and disjunctive."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import load_documents
from search_engine_spark.build import IndexBuilder
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import QueryEngine

from tests.conftest import assert_rank_identical

SF_DIR = "/root/testdata/sf0.001"

QUERIES = [
    "spark query",
    "the fast table",
    "data row filter join",
    "nonexistentterm",
    "common zzz-absent spark",  # one missing term (dropped, ref semantics)
    "value",
    "window window window",  # dupes dedup to one term
    "slow scan agg key hash",
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_q"))
    docs_df = load_documents(spark, SF_DIR)
    IndexBuilder(spark, index_dir, n_salts=4, bucket_count=8).build(
        docs_df, resume=False
    )
    docs = [
        (r["doc_id"], r["text"])
        for r in docs_df.select("doc_id", "text").collect()
    ]
    return QueryEngine(spark, index_dir), OracleIndex(docs)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_spark_path_rank_identity(engine, mode):
    qe, oracle = engine
    for q in QUERIES:
        want = oracle.topk(q, mode=mode)
        got = [
            (r["doc_id"], r["score"])
            for r in qe.search(q, mode=mode).collect()
        ]
        assert_rank_identical(got, want)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_local_path_rank_identity(engine, mode):
    qe, oracle = engine
    for q in QUERIES:
        want = oracle.topk(q, mode=mode)
        got = qe.search_local(q, mode=mode)
        assert_rank_identical(got, want)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_batch_matches_single(engine, mode):
    qe, _ = engine
    queries = list(enumerate(QUERIES))
    batch = qe.batch_search(queries, mode=mode)
    rows = batch.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, q in queries:
        single = [
            (r["doc_id"], r["score"]) for r in qe.search(q, mode=mode).collect()
        ]
        got = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
        assert_rank_identical(got, single)


def test_negative_idf_preserved(engine):
    """Terms with df > N/2 score negative (reference quirk, no clamp)."""
    qe, oracle = engine
    hot = max(oracle.postings, key=lambda t: oracle.df(t))
    if oracle.df(hot) > oracle.n_docs / 2:
        res = qe.search_local(hot, mode="disjunctive")
        assert res and res[0][1] < 0


def test_snippets(engine):
    qe, _ = engine
    top = qe.search("spark query", mode="disjunctive", k=3)
    snips = qe.snippets("spark query", top).collect()
    assert len(snips) == 3
    assert all(len(r["snippets"]) >= 1 for r in snips)
    assert any(
        "spark" in s or "query" in s
        for r in snips
        for s in r["snippets"]
    )


def test_snippets_parity_prints_all_segments_in_doc_order(engine):
    """Reference quirk (QueryExecution.cpp:544-548): ALL merged
    segments are emitted, in document order — parity=True reproduces
    it even when max_segments would truncate, and segment order follows
    text position (default mode re-sorts by match count)."""
    qe, _ = engine
    # pick docs whose text holds >= 3 occurrences of the term, so the
    # print-all quirk actually diverges from the truncating default
    doc_rows = qe._stage_df("doc_table").select("doc_id", "text").collect()
    multi = [
        r["doc_id"]
        for r in doc_rows
        if (r["text"] or "").count("spark") >= 3
    ][:3]
    assert multi, "corpus has no doc with 3+ 'spark' occurrences"
    top = qe.spark.createDataFrame(
        [(d, 1.0) for d in multi], "doc_id long, score double"
    )
    # tiny window => many non-mergeable segments per doc
    dflt = {
        r["doc_id"]: r["snippets"]
        for r in qe.snippets("spark", top, window=3, max_segments=1).collect()
    }
    par = {
        r["doc_id"]: r["snippets"]
        for r in qe.snippets(
            "spark", top, window=3, max_segments=1, parity=True
        ).collect()
    }
    assert set(dflt) == set(par)
    assert all(len(v) <= 1 for v in dflt.values())
    assert any(len(par[d]) > len(dflt[d]) for d in par), (par, dflt)
    # parity segments appear in document order: each one is found
    # strictly after the previous within the source text
    for d, segs in par.items():
        doc_text = (
            qe._stage_df("doc_table").where(F.col("doc_id") == d).collect()
        )[0]["text"]
        pos = -1
        for s in segs:
            i = doc_text.find(s, pos + 1)
            assert i > pos, (d, segs)
            pos = i


# ---------------------------------------------------------------- phrase


@pytest.fixture(scope="module")
def phrase_engine(spark, tmp_path_factory):
    """Tiny positional index with known adjacency structure."""
    index_dir = str(tmp_path_factory.mktemp("idx_phrase"))
    docs = spark.createDataFrame(
        [
            (0, "u0", "alpha beta gamma delta"),
            (1, "u1", "alpha gamma beta delta"),  # scattered, not adjacent
            (2, "u2", "x alpha beta y alpha beta"),  # phrase twice
            (3, "u3", "beta alpha"),  # reversed order
            (4, "u4", "echo echo foxtrot"),  # duplicate-term phrase
            (5, "u5", "alpha"),  # prefix only
        ],
        "doc_id long, url string, text string",
    )
    IndexBuilder(
        spark, index_dir, n_salts=2, bucket_count=4, store_positions=True
    ).build(docs, resume=False)
    return QueryEngine(spark, index_dir)


def ids(df):
    return [r["doc_id"] for r in df.collect()]


def test_phrase_adjacency_and_order(phrase_engine):
    qe = phrase_engine
    assert set(ids(qe.phrase_search("alpha beta"))) == {0, 2}
    assert set(ids(qe.phrase_search("beta alpha"))) == {3}
    assert set(ids(qe.phrase_search("alpha beta gamma"))) == {0}
    # single-term phrase == term presence
    assert set(ids(qe.phrase_search("alpha"))) == {0, 1, 2, 3, 5}


def test_phrase_duplicate_term(phrase_engine):
    qe = phrase_engine
    assert set(ids(qe.phrase_search("echo echo"))) == {4}
    assert set(ids(qe.phrase_search("echo echo foxtrot"))) == {4}
    assert set(ids(qe.phrase_search("echo foxtrot echo"))) == set()


def test_positional_ops_match_python_oracle(spark, tmp_path_factory):
    """Randomized (seeded) corpus, 25 generated phrase/NEAR queries,
    each checked set-exact against a brute-force pure-Python oracle —
    guards the adjacency/window HOF expressions and the rarest-term
    prune across duplicate terms, absent terms, and window edges."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> heavy overlap
    rows = []
    for d in range(120):
        n = rng.randint(0, 14)
        rows.append(
            (d, f"u{d}", " ".join(rng.choice(vocab) for _ in range(n)))
        )
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    d = str(tmp_path_factory.mktemp("idx_prop"))
    IndexBuilder(
        spark, d, n_salts=2, bucket_count=4, store_positions=True
    ).build(docs, resume=False)
    qe = QueryEngine(spark, d)
    texts = {r[0]: r[2].split() for r in rows}

    def phrase_docs(seq):
        out = set()
        for did, toks in texts.items():
            for s in range(len(toks) - len(seq) + 1):
                if toks[s : s + len(seq)] == seq:
                    out.add(did)
                    break
        return out

    def prox_docs(terms, w):
        uniq = sorted(set(terms))
        out = set()
        for did, toks in texts.items():
            pos = {
                t: [i for i, x in enumerate(toks) if x == t] for t in uniq
            }
            if any(not v for v in pos.values()):
                continue
            anchors = sorted({p for v in pos.values() for p in v})
            for s in anchors:
                if all(
                    any(s <= q < s + w for q in pos[t]) for t in uniq
                ):
                    out.add(did)
                    break
        return out

    def ordered_docs(seq, w):
        # independent brute force: enumerate every combination of
        # occurrence positions (docs are <=14 tokens, so tiny) rather
        # than mirroring the engine's greedy chase
        from itertools import product

        out = set()
        for did, toks in texts.items():
            pos = [[i for i, x in enumerate(toks) if x == t] for t in seq]
            if any(not v for v in pos):
                continue
            if any(
                all(c[j] > c[j - 1] for j in range(1, len(c)))
                and c[-1] - c[0] < w
                for c in product(*pos)
            ):
                out.add(did)
        return out

    for _ in range(25):
        seq = [rng.choice(vocab) for _ in range(rng.randint(2, 3))]
        q = " ".join(seq)
        got = {r["doc_id"] for r in qe.phrase_search(q, k=1000).collect()}
        assert got == phrase_docs(seq), (q, got, phrase_docs(seq))
        w = rng.randint(1, 6)
        gotp = {
            r["doc_id"]
            for r in qe.proximity_search(q, window=w, k=1000).collect()
        }
        assert gotp == prox_docs(seq, w), (q, w, gotp, prox_docs(seq, w))
        goto = {
            r["doc_id"]
            for r in qe.ordered_window_search(q, window=w, k=1000).collect()
        }
        assert goto == ordered_docs(seq, w), (
            q, w, goto, ordered_docs(seq, w),
        )


def test_phrase_rare_prune_shuffle_fallback(phrase_engine, monkeypatch):
    """Above KEYS_BROADCAST_CAP the rarest-term semi-join falls back
    to a shuffle semi-join — results must be identical either way."""
    import search_engine_spark.query as qmod

    qe = phrase_engine
    want = set(ids(qe.phrase_search("alpha beta")))
    monkeypatch.setattr(qmod, "KEYS_BROADCAST_CAP", 0)
    assert set(ids(qe.phrase_search("alpha beta"))) == want == {0, 2}


def test_phrase_missing_term_and_empty(phrase_engine):
    qe = phrase_engine
    assert ids(qe.phrase_search("alpha zzzabsent")) == []
    assert ids(qe.phrase_search("")) == []
    assert ids(qe.phrase_search(",,, ...")) == []


def test_phrase_scores_match_oracle_bm25(phrase_engine):
    """Distinct-term float64 BM25 equals the pure-python formula."""
    import math

    import numpy as np

    qe = phrase_engine
    rows = qe.phrase_search("alpha beta", dtype=np.float64).collect()
    lex = qe.lexicon_lookup(["alpha", "beta"])
    texts = {
        0: "alpha beta gamma delta".split(),
        2: "x alpha beta y alpha beta".split(),
    }
    for r in rows:
        toks = texts[r["doc_id"]]
        want = 0.0
        for t in ("alpha", "beta"):
            df_t = lex[t]["df"]
            idf = math.log((qe.n_docs - df_t + 0.5) / (df_t + 0.5))
            tf = toks.count(t)
            kk = 1.2 * (0.25 + 0.75 * len(toks) / qe.avgdl)
            want += idf * 2.2 * tf / (kk + tf)
        assert abs(r["score"] - want) < 1e-9, (r, want)
    # deterministic ordering: score desc, doc_id asc
    scores = [(r["score"], r["doc_id"]) for r in rows]
    assert scores == sorted(scores, key=lambda x: (-x[0], x[1]))


def test_phrase_requires_positions(engine):
    qe, _ = engine
    with pytest.raises(ValueError, match="store_positions"):
        qe.phrase_search("spark query")


# ------------------------------------------------------------- proximity


def test_proximity_window_semantics(phrase_engine):
    qe = phrase_engine
    # alpha..delta: positions 0 and 3 in docs 0/1 -> window 4 needed
    assert set(ids(qe.proximity_search("alpha delta", window=3))) == set()
    assert set(ids(qe.proximity_search("alpha delta", window=4))) == {0, 1}
    # order-insensitive: "beta alpha" within 2 = adjacency either way
    assert set(ids(qe.proximity_search("beta alpha", window=2))) == {0, 2, 3}
    # single term: presence at any window
    assert set(ids(qe.proximity_search("alpha", window=1))) == {0, 1, 2, 3, 5}
    # two distinct terms can't share one position
    assert ids(qe.proximity_search("alpha beta", window=1)) == []
    # duplicate query terms collapse (distinct-term semantics)
    assert set(ids(qe.proximity_search("echo echo", window=1))) == {4}


def test_proximity_edge_cases(phrase_engine):
    qe = phrase_engine
    with pytest.raises(ValueError, match="window"):
        qe.proximity_search("alpha beta", window=0)
    assert ids(qe.proximity_search("alpha zzzabsent", window=50)) == []
    assert ids(qe.proximity_search("", window=3)) == []


def test_proximity_scores_match_phrase_scoring(phrase_engine):
    """Same distinct-term BM25 back half as phrase_search: for a query
    where both match the same doc set, scores are identical."""
    import numpy as np

    qe = phrase_engine
    ph = {r["doc_id"]: r["score"]
          for r in qe.phrase_search("alpha beta", dtype=np.float64).collect()}
    px = {r["doc_id"]: r["score"]
          for r in qe.proximity_search(
              "alpha beta", window=2, dtype=np.float64).collect()}
    assert set(ph) <= set(px)  # proximity(2) is a superset of adjacency
    for d in ph:
        assert abs(ph[d] - px[d]) < 1e-12


# --------------------------------------------------------- ordered window


def test_ordered_window_semantics(phrase_engine):
    qe = phrase_engine
    ow = qe.ordered_window_search
    # window = n_terms degenerates to phrase adjacency
    assert set(ids(ow("alpha beta", window=2))) == {0, 2}
    # widening admits doc1's scattered-but-ordered "alpha gamma beta"
    assert set(ids(ow("alpha beta", window=3))) == {0, 1, 2}
    # ORDER matters (unlike proximity_search): "beta alpha" at span<2
    # exists only in doc3; doc2 has beta@2..alpha@4 (span 2) at window 3
    assert set(ids(ow("beta alpha", window=2))) == {3}
    assert set(ids(ow("beta alpha", window=3))) == {2, 3}
    # a 4-term ordered chain: only doc0 has them in query order
    assert set(ids(ow("alpha beta gamma delta", window=4))) == {0}
    assert set(ids(ow("alpha beta gamma delta", window=50))) == {0}
    # multi-term window=1 can never match (strictly increasing chain)
    assert ids(ow("alpha beta", window=1)) == []
    # single term: presence at any window
    assert set(ids(ow("alpha", window=1))) == {0, 1, 2, 3, 5}


def test_ordered_window_duplicate_terms(phrase_engine):
    qe = phrase_engine
    ow = qe.ordered_window_search
    # duplicate terms need DISTINCT increasing occurrences
    assert set(ids(ow("echo echo", window=2))) == {4}
    assert ids(ow("echo foxtrot echo", window=50)) == []
    assert ids(ow("echo echo echo", window=50)) == []


def test_ordered_window_edge_cases(phrase_engine):
    qe = phrase_engine
    with pytest.raises(ValueError, match="window"):
        qe.ordered_window_search("alpha beta", window=0)
    assert ids(qe.ordered_window_search("alpha zzzabsent", window=9)) == []
    assert ids(qe.ordered_window_search("", window=3)) == []


def test_ordered_window_scores_match_phrase_scoring(phrase_engine):
    """Same distinct-term BM25 back half: where the match sets agree
    with phrase_search, the float64 scores are identical."""
    import numpy as np

    qe = phrase_engine
    ph = {r["doc_id"]: r["score"]
          for r in qe.phrase_search("alpha beta", dtype=np.float64).collect()}
    ow = {r["doc_id"]: r["score"]
          for r in qe.ordered_window_search(
              "alpha beta", window=2, dtype=np.float64).collect()}
    assert set(ph) == set(ow)  # window=2 == adjacency for a 2-term query
    for d in ph:
        assert abs(ph[d] - ow[d]) < 1e-12


# ---------------------------------------------------------------- prefix


def test_expand_prefix_matches_bruteforce(engine):
    """expand_prefix == python-side (df DESC, term ASC) top-N over the
    collected lexicon, for caps below and above the match count."""
    qe, _ = engine
    lex = qe._stage_df("lexicon").select("term", "df").collect()
    for prefix in ("s", "sp", "t"):
        matches = sorted(
            ((r["term"], int(r["df"])) for r in lex
             if r["term"].startswith(prefix)),
            key=lambda td: (-td[1], td[0]),
        )
        for cap in (1, 3, 100):
            want = [t for t, _ in matches[:cap]]
            assert qe.expand_prefix(prefix, cap) == want, (prefix, cap)


def test_prefix_search_equals_expanded_disjunctive(engine):
    """prefix_search('s* data') == plain disjunctive search over the
    union of the capped expansion and the plain term."""
    import numpy as np

    qe, _ = engine
    exp = qe.expand_prefix("s", 4)
    want = qe.search(
        " ".join(sorted(set(exp) | {"data"})),
        mode="disjunctive", k=10, dtype=np.float64,
    ).collect()
    got = qe.prefix_search(
        "s* data", k=10, max_expansions=4, dtype=np.float64
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_prefix_search_no_match_and_empty(engine):
    qe, _ = engine
    assert qe.prefix_search("zzzabsent*").count() == 0
    assert qe.prefix_search("").count() == 0
    assert qe.expand_prefix("zzzabsent") == []


def test_prefix_search_invalid_patterns(engine):
    qe, _ = engine
    for bad in ("*", "a*b*", "f*o", "spark *"):
        with pytest.raises(ValueError, match="wildcard|prefix|non-empty"):
            qe.prefix_search(bad)
    with pytest.raises(ValueError, match="delimiters"):
        qe.prefix_search("foo-b*")
    with pytest.raises(ValueError, match="non-empty"):
        qe.expand_prefix("")


def test_prefix_search_seeds_lexicon_cache(engine):
    """The expansion's lexicon rows seed the per-engine cache, so the
    follow-up search performs no second lexicon job for them."""
    qe, _ = engine
    qe._lex_raw_cache.pop("spark", None)
    got = qe.expand_prefix("spark", 8)
    assert got == ["spark"]
    assert qe._lex_raw_cache["spark"] is not None
    assert qe._lex_raw_cache["spark"]["df"] > 0


# ------------------------------------------------------------ boolean NOT


def _oracle_not(oracle, query, exclude, mode="disjunctive", k=10):
    """Filter the oracle's exhaustive ranking by the excluded terms'
    doc sets — the definitional semantics of (query) AND NOT (exclude)."""
    from search_engine_spark.tokenizer import tokenize_query

    neg = set()
    for t in tokenize_query(exclude):
        neg.update(d for d, _ in oracle.postings.get(t, ()))
    full = oracle.topk(query, mode=mode, k=oracle.n_docs + 1)
    return [(d, s) for d, s in full if d not in neg][:k]


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_search_not_rank_identity(engine, mode):
    """search_not == the exhaustive ranking filtered by the excluded
    terms' doc sets, across hot and rare excludes (NOT semantics must
    not perturb surviving scores even when exclusion removes the
    top-ranked docs and every WAND theta shortcut must stay safe)."""
    qe, oracle = engine
    cases = [
        ("spark query", "the"),        # stop-wordy exclude, most docs drop
        ("data row filter join", "slow"),
        ("the fast table", "zzz-absent"),  # unindexed exclude == plain search
        ("slow scan agg key hash", "table scan"),  # multi-term exclude
    ]
    for q, ex in cases:
        want = _oracle_not(oracle, q, ex, mode=mode)
        got = [
            (r["doc_id"], r["score"])
            for r in qe.search_not(q, ex, mode=mode).collect()
        ]
        assert_rank_identical(got, want)


def test_search_not_missing_exclude_equals_search(engine):
    qe, _ = engine
    import numpy as np

    plain = qe.search("spark query", dtype=np.float64).collect()
    noted = qe.search_not("spark query", "zzzabsent", dtype=np.float64).collect()
    assert [(r["doc_id"], r["score"]) for r in plain] == [
        (r["doc_id"], r["score"]) for r in noted
    ]


def test_search_not_self_exclusion_empty(engine):
    """Excluding the only positive term removes every candidate."""
    qe, oracle = engine
    term = max(oracle.postings, key=lambda t: oracle.df(t))
    assert qe.search_not(term, term).count() == 0


def test_search_not_state_restored(engine, monkeypatch):
    """The exclusion never leaks into subsequent searches, including
    after an exception inside the planner: it is an argument of the
    query's plan, not engine state."""
    qe, oracle = engine
    want = oracle.topk("spark query")
    qe.search_not("spark query", "the").collect()
    got = [(r["doc_id"], r["score"]) for r in qe.search("spark query").collect()]
    assert_rank_identical(got, want)

    def boom(*a, **kw):
        raise RuntimeError("mid-search failure")

    monkeypatch.setattr(qe, "_answer", boom)
    with pytest.raises(RuntimeError, match="mid-search"):
        qe.search_not("spark query", "the")
    monkeypatch.undo()
    got = [(r["doc_id"], r["score"]) for r in qe.search("spark query").collect()]
    assert_rank_identical(got, want)


# ------------------------------------------------------------ facet counts


def _facet_oracle(oracle, docs_by_id, query, mode):
    """Exact facet counts from the python index: matched docs (any/all
    query terms) bucketed by the url host (== source in testdata)."""
    from search_engine_spark.tokenizer import tokenize_query

    terms = [t for t in tokenize_query(query) if t in oracle.postings]
    if not terms:
        return []
    sets = [set(d for d, _ in oracle.postings[t]) for t in sorted(set(terms))]
    matched = set.intersection(*sets) if mode == "conjunctive" else set.union(*sets)
    counts: dict[str, int] = {}
    for d in matched:
        host = docs_by_id[d]
        counts[host] = counts.get(host, 0) + 1
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))


@pytest.fixture(scope="module")
def doc_hosts(spark):
    rows = (
        load_documents(spark, SF_DIR)
        .select("doc_id", F.lower(F.regexp_extract(
            "url", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)).alias("h"))
        .collect()
    )
    return {r["doc_id"]: r["h"] for r in rows}


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_facet_counts_matches_oracle(engine, doc_hosts, mode):
    qe, oracle = engine
    for q in ("spark query", "data row filter join", "the fast table"):
        want = _facet_oracle(oracle, doc_hosts, q, mode)
        got = [
            (r["facet"], r["n_docs"])
            for r in qe.facet_counts(q, mode=mode, top_n=10**6).collect()
        ]
        assert got == want, (q, mode)


def test_facet_counts_top_n_is_prefix(engine, doc_hosts):
    qe, oracle = engine
    full = [
        (r["facet"], r["n_docs"])
        for r in qe.facet_counts("spark query", top_n=10**6).collect()
    ]
    cut = [
        (r["facet"], r["n_docs"])
        for r in qe.facet_counts("spark query", top_n=3).collect()
    ]
    assert cut == full[:3]


def test_facet_counts_custom_expr(engine, doc_hosts):
    """An arbitrary SQL facet expression over the doc table."""
    qe, oracle = engine
    got = {
        r["facet"]: r["n_docs"]
        for r in qe.facet_counts(
            "spark query", facet="CAST(doc_length % 3 AS STRING)"
        ).collect()
    }
    matched = set(d for d, _ in oracle.postings.get("spark", ())) | set(
        d for d, _ in oracle.postings.get("query", ())
    )
    want: dict[str, int] = {}
    for d in matched:
        key = str(oracle.doc_lengths[d] % 3)
        want[key] = want.get(key, 0) + 1
    assert got == want


def test_facet_counts_empty_and_missing(engine):
    qe, _ = engine
    assert qe.facet_counts("").count() == 0
    assert qe.facet_counts("zzznope qqqabsent").count() == 0


# ------------------------------------------------- expansion terms (PRF)


def test_expansion_terms_matches_oracle(engine):
    """expansion_terms == a pure-python PRF twin: top-k docs from the
    oracle ranking, distinct-term co counts, log lift vs corpus df."""
    import math

    from search_engine_spark.tokenizer import tokenize_query, tokenize_text

    qe, oracle = engine
    docs_text = {
        r["doc_id"]: r["text"]
        for r in qe._stage_df("doc_table").select("doc_id", "text").collect()
    }
    for q in ("spark query", "data row filter join"):
        k_docs, top_n, min_co = 5, 8, 2
        top = [d for d, _ in oracle.topk(q, k=k_docs)]
        k = len(top)
        seeds = set(tokenize_query(q))
        co: dict[str, int] = {}
        for d in top:
            for t in set(tokenize_text(docs_text[d] or "")):
                co[t] = co.get(t, 0) + 1
        want = []
        for t, c in co.items():
            if c < min_co or t in seeds:
                continue
            score = round(
                math.log((c / k) / (oracle.df(t) / oracle.n_docs)), 4
            )
            want.append((t, c, oracle.df(t), score))
        want.sort(key=lambda r: (-r[3], r[0]))
        want = want[:top_n]
        got = [
            (r["term"], r["co_docs"], r["df"], r["score"])
            for r in qe.expansion_terms(
                q, k_docs=k_docs, top_n=top_n, min_co=min_co
            ).collect()
        ]
        assert got == want, q
        assert all(t not in seeds for t, *_ in got)
        assert all(c >= min_co for _, c, *_ in got)


def test_expansion_terms_empty_cases(engine):
    qe, _ = engine
    assert qe.expansion_terms("").count() == 0
    assert qe.expansion_terms("zzznope").count() == 0
    # min_co above k can never be met
    assert qe.expansion_terms("spark", k_docs=3, min_co=4).count() == 0


# --------------------------------------------------------- more like this


def test_more_like_this_matches_oracle(engine):
    """MLT == pure-python twin: seed's top tf*idf terms (unclamped
    reference idf, term-ASC tiebreak) run disjunctively, seed doc
    filtered from the ranking."""
    import math

    from search_engine_spark.tokenizer import tokenize_text

    qe, oracle = engine
    docs_text = {
        r["doc_id"]: r["text"]
        for r in qe._stage_df("doc_table").select("doc_id", "text").collect()
    }
    for seed in (0, 7, 42):
        tf: dict[str, int] = {}
        for t in tokenize_text(docs_text[seed] or ""):
            tf[t] = tf.get(t, 0) + 1
        sel = sorted(
            (
                (-c * math.log(
                    (oracle.n_docs - oracle.df(t) + 0.5)
                    / (oracle.df(t) + 0.5)
                ), t)
                for t, c in tf.items()
            )
        )
        terms = [t for _, t in sel[:10]]
        full = oracle.topk(" ".join(terms), k=oracle.n_docs + 1)
        want = [(d, s) for d, s in full if d != seed][:10]
        got = [
            (r["doc_id"], r["score"])
            for r in qe.more_like_this(seed, max_terms=10, k=10).collect()
        ]
        assert_rank_identical(got, want)
        assert all(d != seed for d, _ in got)


def test_more_like_this_edge_cases(engine):
    qe, _ = engine
    with pytest.raises(KeyError, match="doc table"):
        qe.more_like_this(10**12)
    # k and max_terms honored
    assert qe.more_like_this(0, k=3).count() == 3
    one = qe.more_like_this(0, max_terms=1, k=5)
    assert one.count() == 5


# ----------------------------------------------------------- fuzzy search


def _brute_ed1(lex_rows, term, cap):
    def ed(a, b):
        if abs(len(a) - len(b)) > 1:
            return 99
        # tiny DP, fine at test scale
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    cand = sorted(
        ((int(r["df"]), r["term"]) for r in lex_rows
         if ed(term, r["term"]) <= 1),
        key=lambda x: (-x[0], x[1]),
    )
    return [t for _, t in cand[:cap]]


@pytest.fixture(scope="module")
def fuzzy_engine(engine):
    from search_engine_spark.build import build_fuzzy_index

    qe, oracle = engine
    import os

    if not os.path.isdir(os.path.join(qe.index_dir, "fuzzy")):
        build_fuzzy_index(qe.spark, qe.index_dir)
    lex_rows = qe._stage_df("lexicon").select("term", "df").collect()
    return qe, oracle, lex_rows


def test_fuzzy_expand_matches_bruteforce(fuzzy_engine):
    """Deletion-neighborhood expansion == brute-force Levenshtein<=1
    over the whole lexicon, for caps below and above the match count."""
    qe, _, lex_rows = fuzzy_engine
    for term in ("spark", "sparkk", "qery", "dat", "a", "zz"):
        for cap in (1, 4, 100):
            want = _brute_ed1(lex_rows, term, cap)
            assert qe.fuzzy_expand(term, cap) == want, (term, cap)


def test_fuzzy_search_equals_expanded_disjunctive(fuzzy_engine):
    import numpy as np

    qe, _, _ = fuzzy_engine
    exp = set(qe.fuzzy_expand("qery", 8)) | set(qe.fuzzy_expand("sparkk", 8))
    want = qe.search(
        " ".join(sorted(exp)), mode="disjunctive", k=10, dtype=np.float64
    ).collect()
    got = qe.fuzzy_search(
        "qery sparkk", k=10, max_expansions=8, dtype=np.float64
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_fuzzy_search_no_neighborhood_and_validation(fuzzy_engine):
    qe, _, lex_rows = fuzzy_engine
    # a term with no ED<=1 lexicon neighbor
    probe = "qqqqqqzzzzzz"
    assert _brute_ed1(lex_rows, probe, 100) == []
    assert qe.fuzzy_search(probe).count() == 0
    with pytest.raises(ValueError, match="delimiter-free"):
        qe.fuzzy_expand("has space")
    with pytest.raises(ValueError, match="delimiter-free"):
        qe.fuzzy_expand("")


def test_fuzzy_requires_side_table(spark, tmp_path_factory):
    from search_engine_spark.build import IndexBuilder

    index_dir = str(tmp_path_factory.mktemp("idx_nofuzzy"))
    docs = spark.createDataFrame(
        [(0, "u0", "alpha beta"), (1, "u1", "beta gamma")],
        "doc_id long, url string, text string",
    )
    IndexBuilder(spark, index_dir, n_salts=2, bucket_count=4).build(
        docs, resume=False
    )
    qe = QueryEngine(spark, index_dir)
    with pytest.raises(ValueError, match="build_fuzzy_index"):
        qe.fuzzy_expand("alpha")


# ------------------------------------------------- suggest / index stats


def test_suggest_matches_lexicon(engine):
    qe, oracle = engine
    lex = qe._stage_df("lexicon").select("term", "df").collect()
    for prefix in ("s", "sp", "t", "zzz"):
        matches = sorted(
            ((int(r["df"]), r["term"]) for r in lex
             if r["term"].startswith(prefix)),
            key=lambda x: (-x[0], x[1]),
        )
        for n in (1, 3, 100):
            want = [(t, d) for d, t in matches[:n]]
            got = [
                (r["term"], r["df"])
                for r in qe.suggest(prefix, n=n).collect()
            ]
            assert got == want, (prefix, n)
    with pytest.raises(ValueError, match="non-empty"):
        qe.suggest("")


def test_index_stats_consistent(engine):
    qe, oracle = engine
    row = qe.index_stats().collect()[0]
    assert row["n_docs"] == oracle.n_docs
    assert abs(row["avgdl"] - oracle.avgdl) < 1e-3
    assert row["n_terms"] == len(oracle.postings)
    assert row["n_postings"] == sum(len(p) for p in oracle.postings.values())
    assert row["max_df"] == max(len(p) for p in oracle.postings.values())
    # physical chunk count: >= the global-chunking lower bound, and
    # equals the actual chunk-table row count
    lower = sum(
        (len(p) + 127) // 128 for p in oracle.postings.values()
    )
    n_chunks_actual = qe._stage_df("chunks").count()
    assert row["n_chunks"] == n_chunks_actual >= lower


# --------------------------------------------------------- host collapse


def _collapse_oracle(oracle, hosts, query, mode, k=10):
    full = oracle.topk(query, mode=mode, k=oracle.n_docs + 1)
    best: dict[str, tuple[int, float]] = {}
    for d, s in full:  # already (score desc, doc_id asc) ordered
        h = hosts[d]
        if h not in best:
            best[h] = (d, s)
    rows = sorted(best.items(), key=lambda kv: (-kv[1][1], kv[1][0]))
    return [(d, h, s) for h, (d, s) in rows][:k]


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
def test_search_collapsed_matches_oracle(engine, doc_hosts, mode):
    qe, oracle = engine
    for q in ("spark query", "data row filter join"):
        want = _collapse_oracle(oracle, doc_hosts, q, mode)
        got = [
            (r["doc_id"], r["host"], r["score"])
            for r in qe.search_collapsed(q, mode=mode).collect()
        ]
        assert [(d, h) for d, h, _ in got] == [(d, h) for d, h, _ in want]
        for (_, _, gs), (_, _, ws) in zip(got, want):
            assert abs(gs - ws) <= 2e-4 * max(1.0, abs(ws))
        # one result per host, by construction
        assert len({h for _, h, _ in got}) == len(got)


def test_search_collapsed_empty(engine):
    qe, _ = engine
    assert qe.search_collapsed("").count() == 0
    assert qe.search_collapsed("zzznope").count() == 0


def test_did_you_mean(fuzzy_engine):
    """Exact terms correct to themselves; misspellings to the highest-
    df ED<=1 term; hopeless terms get the ('', -1) sentinel."""
    qe, oracle, lex_rows = fuzzy_engine
    rows = {r["term"]: r for r in qe.did_you_mean(
        "spark qery zzzzunfixable").collect()}
    assert rows["spark"]["correction"] == "spark"
    assert rows["spark"]["df"] == oracle.df("spark")
    best = _brute_ed1(lex_rows, "qery", 1)
    assert rows["qery"]["correction"] == best[0]
    assert rows["zzzzunfixable"]["correction"] == ""
    assert rows["zzzzunfixable"]["df"] == -1
    # pos follows the tokenizer's canonical sorted order
    ordered = [r["term"] for r in sorted(
        qe.did_you_mean("spark qery").collect(), key=lambda r: r["pos"])]
    assert ordered == sorted(ordered)


def test_search_not_releases_previous_exclusion(engine, spark):
    """The engine holds at most ONE persisted NOT-exclusion frame:
    each search_not releases the previous call's (the round-5 leak
    fix), old results stay collectable because persist keeps lineage,
    and close() drops the last frame."""
    import numpy as np

    qe, _ = engine

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    first = qe.search_not("spark query", "table", dtype=np.float64)
    base = n_persisted()
    for ex in ("scan", "data", "index"):
        assert qe.search_not("spark query", ex, dtype=np.float64).count() >= 0
    # three more NOT queries added zero NET persisted RDDs
    assert n_persisted() <= base
    assert "exclusion" in qe._persisted
    # the first result's frame was released two calls ago: recompute,
    # don't crash
    assert first.count() >= 0
    qe.close()
    assert "exclusion" not in qe._persisted
    # engine remains serviceable after close (meta cache is lazy)
    assert qe.search("spark", k=3).count() == 3


def test_lexicon_cache_lru_bounded(engine):
    """_lex_raw_cache honors its LRU cap, and eviction mid-lookup
    (term list wider than the cap) degrades to extra lookups, never
    flips a present term to absent."""
    qe, _ = engine
    old_cap = qe._lex_cache_cap
    try:
        qe._lex_cache_cap = 2
        qe._lex_raw_cache.clear()
        terms = ["table", "scan", "data", "zzzabsentterm"]
        r1 = qe.lexicon_lookup(terms)
        assert "table" in r1 and "scan" in r1
        assert "zzzabsentterm" not in r1
        assert len(qe._lex_raw_cache) <= 2
        r2 = qe.lexicon_lookup(terms)
        assert {t: v["df"] for t, v in r2.items()} == {
            t: v["df"] for t, v in r1.items()
        }
    finally:
        qe._lex_cache_cap = old_cap
        qe._lex_raw_cache.clear()


def test_prefix_seed_respects_cache(engine):
    """_prefix_rows seeds the lexicon cache (bounded) so a follow-up
    search pays no second lexicon job for expanded terms."""
    qe, _ = engine
    qe._lex_raw_cache.clear()
    terms = qe.expand_prefix("t", max_expansions=16)
    assert terms, "test corpus has t-terms"
    assert all(t in qe._lex_raw_cache for t in terms)
    assert len(qe._lex_raw_cache) <= qe._lex_cache_cap
