"""The three workloads (``build``, ``serve``, ``refresh``) and the layer
probes a traced run adds for layers its workload does not exercise.

Each workload drives the engine's public API only, from one client
thread, closed-loop. It times its own calls (``Ops.run``) and reads the
counts the engine already returns: build manifests, ``last_local_stats``,
``last_plan_stats`` and ``last_searched_segments``.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np

import gen
from harness import Ops

# Per-workload sizes. ``--seconds`` sets the amount of timed work (ops
# per second of --seconds, calibrated on a 4-core host), not a deadline:
# a fixed op sequence per seed keeps cache state, and so the answers and
# their cost, identical from run to run.
#
# Timed ops repeat in rounds spread over the run, and a metric takes
# each op's fastest repeat: the host's CPU speed swings by about 25% for
# seconds at a time, and the fastest of repeats made seconds apart reads
# the op rather than the moment it ran in.
SIZES = {
    "build": {"n_docs": 10_000, "rounds_per_s": 0.8, "min_rounds": 8,
              "round_gap_s": 1.0, "encode_batches": 120},
    "serve": {"n_docs": 10_000, "rounds_per_s": 0.4, "min_rounds": 4,
              "warm_queries": 50, "local_per_round": 200,
              "batch_size": 20},
    "refresh": {"n_docs": 2_000, "wave_share": 0.01, "waves_per_s": 1 / 12,
                "max_waves": 4, "burst": 40},
}
K = 10
ENCODE_BATCH_CHUNKS = 128


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Run:
    """State of one benchmark run: Spark session, inputs, ops, and the
    raw samples the metrics are computed from."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tracer, ops: Ops):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ops = ops
        self.t_first_op: float | None = None
        self.manifests: list[dict] = []
        self.index_dir: str | None = None
        self.input_bytes = 0
        self.local_kind = ""
        self.spark_kind = ""
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.params: dict = {}
        self.pool: list[tuple[str, str]] = []
        self.stream = np.zeros(0, dtype=np.int64)
        self.ref: gen.Bm25Reference | None = None
        self._expected: dict = {}
        # what the layer probes of a traced run work on
        self.corpus: gen.Corpus | None = None
        self.engine = None
        # set-up phase -> seconds since the previous mark
        self.setup_phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        now = time.perf_counter()
        self.setup_phases[phase] = now - self._mark
        self._mark = now

    def add(self, name: str, value: float) -> None:
        self.samples[name].append(float(value))

    def amount(self, per_second: float, minimum: int) -> int:
        """Ops of one kind in this run: ``per_second`` x ``--seconds``."""
        return max(minimum, round(per_second * self.seconds))

    def start_timing(self) -> float:
        self.mark("warmup")
        self.t_first_op = time.perf_counter()
        return self.t_first_op

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -------------------------------------------------- engine calls

    def build_index(self, docs, index_dir: str) -> dict:
        from search_engine_spark.build import IndexBuilder

        return IndexBuilder(
            self.spark, index_dir, bucket_count=16, materialize_postings=False
        ).build(docs, resume=False)

    def load(self, in_dir: str):
        from search_engine_spark.corpus import load_documents

        return load_documents(self.spark, in_dir)

    def query(self, i: int) -> tuple[str, str]:
        return self.pool[int(self.stream[i % len(self.stream)])]

    def expected(self, q: str, mode: str):
        key = (q, mode)
        if key not in self._expected:
            scores = self.ref.scores(q, mode)
            top = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:K]
            self._expected[key] = (top, scores)
        return self._expected[key]

    def check_topk(self, kind: str, q: str, mode: str, got) -> None:
        top, scores = self.expected(q, mode)
        if not gen.topk_matches(got, top, scores):
            self.ops.wrong(kind)

    # ------------------------------------------- timed query ops

    def search_spark(self, engine, q: str, mode: str):
        """``search()`` then ``.collect()``; the split is the plan/exec
        boundary (tokenize, metadata collect, WAND sweep and phase-1
        probe happen before ``search`` returns)."""
        with self.tracer.span("query.spark.plan"):
            t0 = time.perf_counter()
            df = engine.search(q, mode=mode, k=K)
            t1 = time.perf_counter()
        with self.tracer.span("query.spark.exec"):
            rows = df.collect()
            t2 = time.perf_counter()
        return rows, t1 - t0, t2 - t1, dict(engine.last_plan_stats)

    def spark_query_op(self, kind: str, engine, q: str, mode: str,
                       check: bool = True, key=None) -> None:
        out = self.ops.run(kind, self.search_spark, engine, q, mode,
                           spark=True, key=key)
        if out is Ops.FAILED:
            return
        rows, plan_s, exec_s, st = out
        if check:
            self.check_topk(kind, q, mode,
                            [(int(r["doc_id"]), float(r["score"])) for r in rows])
        self.add("spark.plan_s", plan_s)
        self.add("spark.exec_s", exec_s)
        total = st.get("chunks_total", 0)
        if total:
            self.add("spark.chunks_kept_ratio", st.get("chunks_kept", total) / total)
        if st.get("segments"):
            self.add("spark.segments_kept_ratio",
                     st.get("segments_kept", st["segments"]) / st["segments"])

    def search_batch(self, engine, batch: list[tuple[int, str]]):
        with self.tracer.span("query.batch.plan"):
            t0 = time.perf_counter()
            df = engine.batch_search(batch, k=K)
            t1 = time.perf_counter()
        with self.tracer.span("query.batch.exec"):
            rows = df.collect()
            t2 = time.perf_counter()
        return rows, t1 - t0, t2 - t1, dict(engine.last_plan_stats)

    def batch_op(self, kind: str, engine, first: int, size: int,
                 check: bool = True) -> None:
        """One ``batch_search`` of ``size`` disjunctive stream queries."""
        qs = []
        i = first
        while len(qs) < size:
            q, mode = self.query(i)
            i += 1
            if mode == "disjunctive":
                qs.append(q)
        out = self.ops.run(kind, self.search_batch, engine,
                           list(enumerate(qs)), spark=True)
        if out is Ops.FAILED:
            return
        rows, plan_s, exec_s, st = out
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            )
        for qid, q in enumerate(qs):
            got = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
            if check:
                self.check_topk(kind, q, "disjunctive", got)
        self.add("batch.plan_s", plan_s)
        self.add("batch.exec_s", exec_s)
        self.add("batch.qps", size / (plan_s + exec_s))
        total = st.get("chunks_total", 0)
        if total:
            self.add("batch.chunks_kept_ratio", st.get("chunks_kept", total) / total)

    def local_op(self, kind: str, engine, q: str, mode: str, check=True,
                 key=None):
        got = self.ops.run(kind, engine.search_local, q, mode=mode, k=K,
                           key=key)
        if got is Ops.FAILED:
            return None
        if check:
            self.check_topk(kind, q, mode, got)
        return got

    def record_local_stats(self, st: dict) -> None:
        if not st:
            return
        self.add("local.chunks_scanned", st.get("chunks_total", 0))
        self.add("local.chunks_decoded", st.get("chunks_decoded", 0))
        if st.get("segments_total"):
            self.add("local.segments_processed_ratio",
                     st["segments_processed"] / st["segments_total"])

    def assert_no_jobs(self, before: int, kind: str) -> None:
        """Single-index ``search_local`` must start no Spark job."""
        after = self.ops.spark_work.newest_job_id()
        if after != before:
            self.ops.wrong(kind, f"StartedSparkJobs[{after - before}]")

    # ------------------------------------------------- corpus helpers

    def make_corpus(self, n_docs: int, salt: int = 0, base: int = 0) -> gen.Corpus:
        return gen.Corpus(gen.CorpusParams(n_docs=n_docs, doc_id_base=base),
                          seed=self.seed * 7919 + salt)

    def make_queries(self, corpus: gen.Corpus) -> None:
        qp = gen.QueryParams()
        self.pool, self.stream = gen.make_queries(corpus, qp, self.seed)
        self.ref = gen.Bm25Reference(corpus)
        self.params["queries"] = dict(vars(qp))

    def encode_batches(self, corpus: gen.Corpus, n_batches: int = 8):
        """Posting lists of the corpus cut into 128-posting chunks; each
        batch holds ``ENCODE_BATCH_CHUNKS`` chunks drawn with probability
        proportional to their posting count (where postings live), as
        (ids, tfs, chunk_starts) for ``codecs.encode_chunk_batch``."""
        _, doc, tf, starts = corpus.postings()
        rng = np.random.default_rng([self.seed, 2])
        lo = np.concatenate([
            np.arange(starts[t], starts[t + 1], 128)
            for t in range(len(starts) - 1) if starts[t + 1] > starts[t]
        ])
        hi = np.minimum(lo + 128, np.repeat(starts[1:], np.diff(
            np.searchsorted(lo, starts))))
        ids = (doc + corpus.params.doc_id_base).astype(np.uint64)
        tfs = tf.astype(np.uint64)
        batches = []
        for _ in range(n_batches):
            w = (hi - lo) / (hi - lo).sum()
            pick = np.sort(rng.choice(len(lo), ENCODE_BATCH_CHUNKS, replace=False, p=w))
            lens = hi[pick] - lo[pick]
            batches.append((
                np.concatenate([ids[a:b] for a, b in zip(lo[pick], hi[pick])]),
                np.concatenate([tfs[a:b] for a, b in zip(lo[pick], hi[pick])]),
                np.concatenate(([0], np.cumsum(lens)[:-1])),
            ))
        return batches


# ---------------------------------------------------------------- build


def roundtrips(encoded, ids, tfs, starts) -> bool:
    """Every chunk of an ``encode_chunk_batch`` result decodes back."""
    from search_engine_spark import codecs

    codec_ids, payloads = encoded
    ends = np.append(starts[1:], len(ids))
    for c, (a, b) in enumerate(zip(starts, ends)):
        got_ids, got_tfs = codecs.decode_chunk(payloads[c], int(codec_ids[c]))
        if not (np.array_equal(got_ids, ids[a:b])
                and np.array_equal(got_tfs, tfs[a:b])):
            return False
    return True


def build_workload(run: Run) -> None:
    from search_engine_spark import codecs
    import pyarrow.parquet as pq

    size = SIZES["build"]
    run.params["corpus"] = dict(vars(gen.CorpusParams(n_docs=size["n_docs"])))
    corpus = run.make_corpus(size["n_docs"])
    corpus.write_parquet(run.path("in"))
    run.input_bytes = corpus.text_bytes()
    n_terms = int((corpus.df() > 0).sum())
    n_postings = len(corpus.postings()[0])
    batches = run.encode_batches(corpus, size["encode_batches"])
    docs = run.load(run.path("in"))
    run.mark("inputs")

    run.local_kind, run.spark_kind = "encode", "build"
    n_rounds = run.amount(size["rounds_per_s"], size["min_rounds"])

    def encode_round(first: bool) -> None:
        """Every batch once; the first round also checks round trips."""
        for j, (ids, tfs, starts) in enumerate(batches):
            out = run.ops.run("encode", codecs.encode_chunk_batch, ids, tfs,
                              starts, key=j)
            if out is Ops.FAILED:
                continue
            run.add("encode.postings", len(ids))
            if first and not roundtrips(out, ids, tfs, starts):
                run.ops.wrong("encode")

    # the build is the process's first: a user's build in a fresh session
    # pays the JIT compilation and Python-worker start-up too. One encode
    # round runs before it, the others after it, a pause apart, so the
    # rounds span several of the host's speed phases.
    run.start_timing()
    encode_round(True)
    idx = run.index_dir = run.path("idx")
    m = run.ops.run("build", run.build_index, docs, idx, spark=True)
    if m is not Ops.FAILED:
        run.manifests.append(m)
        st = m["stages"]
        chunks_n = pq.read_table(os.path.join(idx, "chunks"), columns=["n"])
        if (
            st["tokens"]["rows"] != corpus.n_docs
            or st["lexicon"]["rows"] != n_terms
            or int(chunks_n.column("n").to_numpy().sum()) != n_postings
        ):
            run.ops.wrong("build")
        run.add("index_bytes", dir_bytes(idx))
    for _ in range(n_rounds - 1):
        time.sleep(size["round_gap_s"])
        encode_round(False)
    run.corpus = corpus


# ---------------------------------------------------------------- serve


def serve_workload(run: Run) -> None:
    from search_engine_spark.query import QueryEngine

    size = SIZES["serve"]
    run.params["corpus"] = dict(vars(gen.CorpusParams(n_docs=size["n_docs"])))
    corpus = run.make_corpus(size["n_docs"])
    corpus.write_parquet(run.path("in"))
    run.input_bytes = corpus.text_bytes()
    run.make_queries(corpus)
    run.mark("inputs")
    run.index_dir = run.path("idx")
    run.manifests.append(run.build_index(run.load(run.path("in")), run.index_dir))
    run.mark("build")
    run.add("index_bytes", dir_bytes(run.index_dir))
    # the engine the Spark ops share for the whole run. Its search()
    # calls take popular queries of one shape (3-term disjunctive: pool
    # ranks 2, 12, 22, ..., see gen.SHAPES), a different one per round,
    # since their cost varies more from query to query than from repeat
    # to repeat. A first search() and a batch of stream queries run in
    # set-up: the first Spark queries of a session take about twice as
    # long while the JVM compiles their plans.
    run.local_kind, run.spark_kind = "search_local", "search"
    n_rounds = run.amount(size["rounds_per_s"], size["min_rounds"])
    spark_qs = run.pool[2:2 + len(gen.SHAPES) * (n_rounds + 1):len(gen.SHAPES)]
    engine = QueryEngine(run.spark, run.index_dir)
    timed = range(size["warm_queries"],
                  size["warm_queries"] + size["local_per_round"])
    run.batch_op("batch_search", engine, timed.stop, size["batch_size"])
    run.spark_query_op("search.first", engine, *spark_qs[0])
    warm = size["warm_queries"]
    sw = run.ops.spark_work

    def local_round(first: bool) -> None:
        """The same stream slice through a fresh engine: its caches start
        empty and fill from the same warm-up, so every round replays the
        same cache states."""
        local = QueryEngine(run.spark, run.index_dir)
        for i in range(warm):
            local.search_local(*run.query(i), k=K)
        before = sw.newest_job_id()
        for i in timed:
            q, mode = run.query(i)
            if (run.local_op("search_local", local, q, mode, key=i) is not None
                    and first):
                run.record_local_stats(local.last_local_stats)
        run.assert_no_jobs(before, "search_local")
        local.close()

    # each round: one pass of search_local, then one search()
    run.start_timing()
    for r in range(n_rounds):
        local_round(r == 0)
        run.spark_query_op("search", engine, *spark_qs[r + 1])
    run.engine = engine
    run.corpus = corpus


# -------------------------------------------------------------- refresh


def marker(wave: int) -> str:
    """A term no vocabulary word can equal (longer than any)."""
    return "zzzmarker" + "".join(chr(97 + int(c)) for c in f"{wave:03d}") + "zzz"


def write_wave(run: Run, base: gen.Corpus, wave: int, n: int) -> tuple[str, list[int], int]:
    """Rewrite ``n`` base docs (a disjoint slice per wave): same doc id
    and source, so the same url, new text carrying the wave's marker."""
    ids = base.doc_ids[wave * n:(wave + 1) * n]
    fresh = run.make_corpus(n, salt=100 + wave, base=int(ids[0]))
    texts = [t + " " + marker(wave) for t in fresh.texts()]
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = run.path(f"wave{wave}_in")
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([gen.source_of(int(d)) for d in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    return out, [int(d) for d in ids], sum(len(t.encode()) for t in texts)


def refresh_workload(run: Run) -> None:
    from search_engine_spark import maintenance
    from search_engine_spark.build import build_term_bloom
    from search_engine_spark.query import MultiIndexQueryEngine

    size = SIZES["refresh"]
    run.params["corpus"] = dict(vars(gen.CorpusParams(n_docs=size["n_docs"])))
    corpus = run.make_corpus(size["n_docs"])
    corpus.write_parquet(run.path("in"))
    run.input_bytes = corpus.text_bytes()
    run.make_queries(corpus)
    n_wave = max(1, int(size["n_docs"] * size["wave_share"]))
    waves = [write_wave(run, corpus, w, n_wave) for w in range(size["max_waves"])]
    run.mark("inputs")
    base = run.index_dir = run.path("base")
    run.manifests.append(run.build_index(run.load(run.path("in")), base))
    build_term_bloom(run.spark, base)
    run.mark("build")
    run.add("index_bytes", dir_bytes(base))
    stack = MultiIndexQueryEngine(run.spark, [base])
    for i in range(40):
        stack.search_local(*run.query(i), k=K)

    run.local_kind, run.spark_kind = "lsm.search_local", "upsert"
    n_waves = min(len(waves), run.amount(size["waves_per_s"], 1))
    run.start_timing()
    superseded: set[int] = set()
    deltas: list[str] = []
    i = 40
    for w in range(n_waves):
        in_dir, ids, text_bytes = waves[w]
        delta, merged = run.path(f"delta{w}"), run.path(f"merged{w}")
        t_up = time.perf_counter()
        m = run.ops.run(
            "upsert", maintenance.upsert_docs, run.spark, base,
            run.load(in_dir), merged, delta_dir=delta, build_bloom=True,
            spark=True,
        )
        up_s = time.perf_counter() - t_up
        if m is Ops.FAILED:
            break
        superseded.update(ids)
        deltas.append(delta)
        if m["upsert"]["n_superseded"] != len(ids):
            run.ops.wrong("upsert")
        merge_s = sum(s["seconds"] for s in m["stages"].values())
        run.add("upsert.merge_s", merge_s)
        run.add("upsert.delta_s", up_s - merge_s)
        run.add("upsert.bytes_ratio",
                (dir_bytes(delta) + dir_bytes(merged)) / text_bytes)
        stack.close()
        stack = run.ops.run("lsm.open", MultiIndexQueryEngine, run.spark,
                            [base] + deltas, spark=True)
        if stack is Ops.FAILED:
            break
        # the wave's marker returns exactly the wave's docs
        got = run.ops.run("lsm.marker", stack.search_local, marker(w),
                          k=2 * n_wave, spark=True)
        want = {stack.offsets[len(deltas)] + d for d in ids}
        if got is not Ops.FAILED and {d for d, _ in got} != want:
            run.ops.wrong("lsm.marker")
        for _ in range(size["burst"]):
            q, mode = run.query(i)
            i += 1
            got = run.ops.run("lsm.search_local", stack.search_local, q,
                              mode=mode, k=K, spark=True)
            if got is Ops.FAILED:
                continue
            if any(d in superseded for d, _ in got):
                run.ops.wrong("lsm.search_local", "SupersededDocReturned")
            run.add("lsm.segments_ratio",
                    stack.last_searched_segments / len(stack.engines))
    stack.close()
    m = run.ops.run("compact", maintenance.compact_index, run.spark, base,
                    run.path("compacted"), spark=True)
    if m is not Ops.FAILED:
        import pyarrow.parquet as pq

        stats = pq.read_table(run.path("compacted", "stats")).to_pylist()[0]
        if int(stats["n_docs"]) != corpus.n_docs - len(superseded):
            run.ops.wrong("compact")
        run.add("compact.bytes", dir_bytes(run.path("compacted")))
    run.corpus = corpus


WORKLOADS = {
    "build": build_workload,
    "serve": serve_workload,
    "refresh": refresh_workload,
}
