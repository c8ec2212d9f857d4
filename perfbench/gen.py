"""Seeded inputs for the benchmark: a Zipf web-text corpus, a query
stream, and a brute-force BM25 reference computed from the corpus.

Everything here depends only on the seed and the parameters, never on
the engine: the engine sees the written ``documents.parquet`` and the
query strings, nothing else. Pure numpy/pyarrow, no Spark.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np

K1 = 1.2
B = 0.75

# vocabulary words are 3..10 letters; markers are longer, so a marker
# can never collide with a corpus word
WORD_MIN, WORD_MAX = 3, 10


@dataclasses.dataclass(frozen=True)
class CorpusParams:
    n_docs: int
    vocab_size: int = 50_000
    zipf_s: float = 1.0
    len_median: float = 120.0
    len_sigma: float = 0.5
    doc_id_base: int = 0


@dataclasses.dataclass(frozen=True)
class QueryParams:
    pool_size: int = 1000
    stream_len: int = 20_000
    pool_zipf_s: float = 0.8


def word_length(rank: int) -> int:
    """Length of the vocabulary word of Zipf rank ``rank`` (0-based):
    frequent words are short, and the length depends on the rank only,
    so text bytes per token are the same for every seed."""
    return min(WORD_MAX, WORD_MIN + int(np.log2(rank + 1) / 2))


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct a-z words, in Zipf rank order: seeded letters,
    lengths from :func:`word_length`."""
    words: dict[str, None] = {}
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    for rank in range(size):
        n = word_length(rank)
        while True:
            w = letters[rng.integers(0, 26, size=n)].tobytes().decode()
            if w not in words:
                words[w] = None
                break
    return list(words)


class Corpus:
    """Generated documents as token-id arrays plus their text.

    ``offsets[i]:offsets[i+1]`` slices doc ``i``'s tokens out of
    ``tokens`` (vocabulary ranks). Doc ids are ``doc_id_base + i``.
    """

    def __init__(self, params: CorpusParams, seed: int):
        self.params = params
        rng = np.random.default_rng(seed)
        self.vocab = make_vocab(rng, params.vocab_size)
        ranks = np.arange(1, params.vocab_size + 1, dtype=np.float64)
        p = ranks ** -params.zipf_s
        self.term_p = p / p.sum()
        lens = np.exp(
            rng.normal(np.log(params.len_median), params.len_sigma, params.n_docs)
        )
        lens = np.maximum(lens.astype(np.int64), 1)
        self.offsets = np.concatenate(([0], np.cumsum(lens)))
        cdf = np.cumsum(self.term_p)
        cdf[-1] = 1.0
        self.tokens = np.searchsorted(
            cdf, rng.random(int(self.offsets[-1])), side="right"
        ).astype(np.int32)
        self.doc_ids = params.doc_id_base + np.arange(params.n_docs, dtype=np.int64)
        # delimiter noise: some tokens end a sentence or a clause, so the
        # tokenizer's delimiter runs get exercised (tokens are unchanged)
        self._punct = rng.integers(0, 16, size=len(self.tokens)).astype(np.int8)
        self._texts: list[str] | None = None
        self._post: tuple | None = None

    @property
    def n_docs(self) -> int:
        return self.params.n_docs

    def doc_lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    def texts(self) -> list[str]:
        if self._texts is None:
            seps = np.array([" "] * 16, dtype=object)
            seps[0], seps[1] = ". ", ", "
            vocab = np.array(self.vocab, dtype=object)
            words = vocab[self.tokens]
            sep = seps[self._punct]
            out = []
            for i in range(self.n_docs):
                a, b = self.offsets[i], self.offsets[i + 1]
                w = words[a:b]
                s = sep[a : b - 1]
                parts = [None] * (2 * len(w) - 1)
                parts[::2] = w
                parts[1::2] = s
                out.append("".join(parts))
            self._texts = out
        return self._texts

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts())

    def postings(self):
        """(term_of_posting, doc_idx, tf, term_starts) sorted by term
        then doc — every distinct (term, doc) pair once."""
        if self._post is None:
            doc_idx = np.repeat(
                np.arange(self.n_docs, dtype=np.int64), self.doc_lengths()
            )
            key = self.tokens.astype(np.int64) * self.n_docs + doc_idx
            uniq, tf = np.unique(key, return_counts=True)
            term = (uniq // self.n_docs).astype(np.int32)
            doc = uniq % self.n_docs
            starts = np.searchsorted(
                term, np.arange(self.params.vocab_size + 1, dtype=np.int32)
            )
            self._post = (term, doc, tf.astype(np.int64), starts)
        return self._post

    def df(self) -> np.ndarray:
        _, _, _, starts = self.postings()
        return np.diff(starts)

    def write_parquet(self, path: str) -> None:
        """``documents.parquet`` in the testdata schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        texts = self.texts()
        tbl = pa.table(
            {
                "doc_id": pa.array(self.doc_ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * self.n_docs, pa.string()),
                "source": pa.array(
                    [source_of(int(d)) for d in self.doc_ids], pa.string()
                ),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        os.makedirs(path, exist_ok=True)
        pq.write_table(tbl, os.path.join(path, "documents.parquet"))


def source_of(doc_id: int) -> str:
    return f"site{doc_id % 97}.example"



# query shapes by popularity rank (rank mod 10): term count and mode.
# Ranks cycle through the shapes, so every seed serves the same mix of
# shapes in the same proportions: 70% disjunctive, 30% conjunctive,
# 1-4 terms.
SHAPES = [
    (1, "disjunctive"), (2, "conjunctive"), (3, "disjunctive"),
    (4, "disjunctive"), (2, "disjunctive"), (3, "conjunctive"),
    (1, "disjunctive"), (2, "disjunctive"), (4, "conjunctive"),
    (3, "disjunctive"),
]
# df class of a query's j-th term: head (df > N/2, negative idf),
# torso, tail; cycled the same way as SHAPES
CLASS_CYCLE = "HTTLTHLT"


def make_queries(
    corpus: Corpus, params: QueryParams, seed: int
) -> tuple[list[tuple[str, str]], np.ndarray]:
    """A pool of distinct (query, mode) pairs mixing head, torso and
    tail terms, ordered by popularity, and a stream of pool indices
    drawn with Zipf frequency, so a serving cache sees repeats."""
    rng = np.random.default_rng([seed, 1])
    df = corpus.df()
    n = corpus.n_docs
    tail_max = max(n // 1000, 2)
    classes = {
        "H": np.flatnonzero(df > n / 2),
        "T": np.flatnonzero((df > tail_max) & (df <= n / 2)),
        "L": np.flatnonzero((df >= 1) & (df <= tail_max)),
    }
    pool: dict[tuple[str, str], None] = {}
    slot = 0
    while len(pool) < params.pool_size:
        n_terms, mode = SHAPES[len(pool) % len(SHAPES)]
        ids: list[int] = []
        while len(ids) < n_terms:
            cls = classes[CLASS_CYCLE[slot % len(CLASS_CYCLE)]]
            slot += 1
            t = int(cls[rng.integers(0, len(cls))])
            if t not in ids:
                ids.append(t)
        pool.setdefault((" ".join(corpus.vocab[i] for i in sorted(ids)), mode))
    ranks = np.arange(1, params.pool_size + 1, dtype=np.float64)
    p = ranks ** -params.pool_zipf_s
    stream = rng.choice(params.pool_size, size=params.stream_len, p=p / p.sum())
    return list(pool), stream


class Bm25Reference:
    """Exhaustive BM25 over a :class:`Corpus` (float64, unclamped idf,
    order by score desc then doc id asc)."""

    def __init__(self, corpus: Corpus):
        self.corpus = corpus
        self.term_of = {w: i for i, w in enumerate(corpus.vocab)}
        self.dl = corpus.doc_lengths().astype(np.float64)
        self.avgdl = float(self.dl.mean())
        self.df = corpus.df()

    def scores(self, query: str, mode: str) -> dict[int, float]:
        """Score of every matching doc, keyed by doc id."""
        _, doc, tf, starts = self.corpus.postings()
        n = self.corpus.n_docs
        tids = sorted(
            {self.term_of[w] for w in query.split() if w in self.term_of}
        )
        tids = [t for t in tids if self.df[t] > 0]
        if not tids:
            return {}
        score = np.zeros(n)
        hits = np.zeros(n, dtype=np.int64)
        for t in tids:
            a, b = starts[t], starts[t + 1]
            d, f = doc[a:b], tf[a:b].astype(np.float64)
            idf = np.log((n - self.df[t] + 0.5) / (self.df[t] + 0.5))
            kk = K1 * ((1 - B) + B * self.dl[d] / self.avgdl)
            score[d] += idf * (K1 + 1) * f / (kk + f)
            hits[d] += 1
        need = len(tids) if mode == "conjunctive" else 1
        cand = np.flatnonzero(hits >= need)
        base = self.corpus.params.doc_id_base
        return dict(zip((cand + base).tolist(), score[cand].tolist()))

    def topk(self, query: str, mode: str, k: int) -> list[tuple[int, float]]:
        ranked = sorted(self.scores(query, mode).items(), key=lambda x: (-x[1], x[0]))
        return ranked[:k]


def topk_matches(
    got: list[tuple[int, float]],
    want: list[tuple[int, float]],
    all_scores: dict[int, float],
    tol: float = 1e-4,
) -> bool:
    """Engine top-k (float32 scores) against the float64 reference.

    ``want`` is the reference top-k and ``all_scores`` every matching
    doc's reference score. The lists have the same length, scores agree
    rank by rank within ``tol`` (relative, absolute near 0), and every
    returned doc is a distinct matching doc whose reference score is its
    reported score — so docs may trade places only inside a tie.
    """
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (_, ws) in zip(got, want):
        lim = tol * max(1.0, abs(ws))
        if gd not in all_scores or abs(gs - ws) > lim:
            return False
        if abs(all_scores[gd] - gs) > lim:
            return False
    return True
