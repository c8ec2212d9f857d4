"""Metric definitions, their computation from a finished run, and the
layer probes a traced run adds for layers its workload left unmeasured.

A probe drives the same public calls the workloads time, through the
same ``Run`` helpers, so a metric means the same thing whether it came
from a workload's timed ops or from a probe.
"""

from __future__ import annotations

import os
import resource
import time

import numpy as np

from harness import Ops, median, quantile
from workloads import K, Run, dir_bytes, marker, write_wave

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("local_op_ms_p50", "ms", "lower", 0.25),
    ("local_op_ms_p90", "ms", "lower", 0.25),
    ("spark_op_s_p50", "s", "lower", 0.25),
    ("driver_rss_mb", "MB", "lower", 0.1),
    ("index_bytes_per_input_byte", "ratio", "lower", 0.05),
]

# name, unit, better
PER_LAYER = [
    ("build.stage.tokens_s", "s", "lower"),
    ("build.stage.chunks_s", "s", "lower"),
    ("build.stage.stats_s", "s", "lower"),
    ("build.stage.lexicon_s", "s", "lower"),
    ("build.stage.tokens_bytes", "bytes", "lower"),
    ("build.stage.chunks_bytes", "bytes", "lower"),
    ("build.stage.lexicon_bytes", "bytes", "lower"),
    ("build.chunks_rows", "count", "lower"),
    ("codecs.encode_mpostings_per_s", "Mpostings/s", "higher"),
    ("codecs.decode_mpostings_per_s", "Mpostings/s", "higher"),
    ("codecs.payload_bytes_per_posting", "B/posting", "lower"),
    ("query.local.chunks_scanned_per_q", "chunks/q", "lower"),
    ("query.local.chunks_decoded_per_q", "chunks/q", "lower"),
    ("wand.local.segments_processed_ratio", "ratio", "lower"),
    ("query.spark.plan_ms", "ms", "lower"),
    ("query.spark.exec_ms", "ms", "lower"),
    ("spark.jobs_per_q", "jobs/q", "lower"),
    ("spark.tasks_per_q", "tasks/q", "lower"),
    ("wand.spark.chunks_kept_ratio", "ratio", "lower"),
    ("wand.spark.segments_kept_ratio", "ratio", "lower"),
    ("query.batch.plan_s", "s", "lower"),
    ("query.batch.exec_s", "s", "lower"),
    ("query.batch.qps", "q/s", "higher"),
    ("spark.jobs_per_batch", "jobs/batch", "lower"),
    ("wand.batch.chunks_kept_ratio", "ratio", "lower"),
    ("query.lexicon_lookup_ms", "ms", "lower"),
    ("query.lsm.open_s", "s", "lower"),
    ("query.lsm.segments_searched_ratio", "ratio", "lower"),
    ("spark.jobs_per_lsm_q", "jobs/q", "lower"),
    ("maintenance.upsert.merge_s", "s", "lower"),
    ("maintenance.upsert.delta_s", "s", "lower"),
    ("maintenance.upsert.bytes_written_per_input_byte", "ratio", "lower"),
    ("maintenance.compact_s", "s", "lower"),
    ("maintenance.compact.bytes_written", "bytes", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("trace.spans", "count", "lower"),
]


def driver_rss_mb() -> float:
    """Peak RSS of this (driver) process; ru_maxrss is KiB on Linux."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def end_to_end(run: Run, setup_s: float) -> dict[str, float]:
    local = run.ops.best(run.local_kind)
    spark = run.ops.best(run.spark_kind)
    return {
        "setup_s": setup_s,
        "local_op_ms_p50": quantile(local, 0.5) * 1e3,
        "local_op_ms_p90": quantile(local, 0.9) * 1e3,
        "spark_op_s_p50": median(spark),
        "driver_rss_mb": driver_rss_mb(),
        "index_bytes_per_input_byte": (
            median(run.samples["index_bytes"]) / run.input_bytes
        ),
    }


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else float("nan")


def per_layer(run: Run, overhead_pct: float) -> dict[str, float]:
    s = run.samples
    ops = run.ops
    stages = lambda key, field: median(  # noqa: E731
        [m["stages"][key][field] for m in run.manifests]
    )

    def jobs(kind: str, i: int) -> float:
        return _mean([j[i] for j in ops.jobs[kind]])

    return {
        "build.stage.tokens_s": stages("tokens", "seconds"),
        "build.stage.chunks_s": stages("chunks", "seconds"),
        "build.stage.stats_s": stages("stats", "seconds"),
        "build.stage.lexicon_s": stages("lexicon", "seconds"),
        "build.stage.tokens_bytes": stages("tokens", "bytes"),
        "build.stage.chunks_bytes": stages("chunks", "bytes"),
        "build.stage.lexicon_bytes": stages("lexicon", "bytes"),
        "build.chunks_rows": stages("chunks", "rows"),
        "codecs.encode_mpostings_per_s": (
            sum(s["encode.postings"]) / sum(ops.seconds["encode"]) / 1e6
        ),
        "codecs.decode_mpostings_per_s": median(s["decode.mpostings_per_s"]),
        "codecs.payload_bytes_per_posting": median(s["payload_bytes_per_posting"]),
        "query.local.chunks_scanned_per_q": _mean(s["local.chunks_scanned"]),
        "query.local.chunks_decoded_per_q": _mean(s["local.chunks_decoded"]),
        "wand.local.segments_processed_ratio": _mean(
            s["local.segments_processed_ratio"]
        ),
        "query.spark.plan_ms": median(s["spark.plan_s"]) * 1e3,
        "query.spark.exec_ms": median(s["spark.exec_s"]) * 1e3,
        "spark.jobs_per_q": jobs("search", 0),
        "spark.tasks_per_q": jobs("search", 1),
        "wand.spark.chunks_kept_ratio": _mean(s["spark.chunks_kept_ratio"]),
        "wand.spark.segments_kept_ratio": _mean(s["spark.segments_kept_ratio"]),
        "query.batch.plan_s": median(s["batch.plan_s"]),
        "query.batch.exec_s": median(s["batch.exec_s"]),
        "query.batch.qps": median(s["batch.qps"]),
        "spark.jobs_per_batch": jobs("batch_search", 0),
        "wand.batch.chunks_kept_ratio": _mean(s["batch.chunks_kept_ratio"]),
        "query.lexicon_lookup_ms": median(ops.seconds["lexicon_lookup"]) * 1e3,
        "query.lsm.open_s": median(ops.seconds["lsm.open"]),
        "query.lsm.segments_searched_ratio": _mean(s["lsm.segments_ratio"]),
        "spark.jobs_per_lsm_q": jobs("lsm.search_local", 0),
        "maintenance.upsert.merge_s": median(s["upsert.merge_s"]),
        "maintenance.upsert.delta_s": median(s["upsert.delta_s"]),
        "maintenance.upsert.bytes_written_per_input_byte": median(
            s["upsert.bytes_ratio"]
        ),
        "maintenance.compact_s": median(ops.seconds["compact"]),
        "maintenance.compact.bytes_written": median(s["compact.bytes"]),
        "trace.overhead_pct": overhead_pct,
        "trace.spans": float(len(run.tracer.spans)),
    }


# ------------------------------------------------------------- probes


def _ensure_queries(run: Run) -> None:
    if not run.pool:
        run.make_queries(run.corpus)


def probe_local(run: Run) -> None:
    from search_engine_spark.query import QueryEngine

    _ensure_queries(run)
    engine = QueryEngine(run.spark, run.index_dir)
    # a tombstoned index no longer answers like the generated corpus
    check = not engine.has_deletes
    for i in range(100):
        q, mode = run.query(i)
        if run.local_op("search_local", engine, q, mode, check) is not None:
            run.record_local_stats(engine.last_local_stats)


def probe_spark(run: Run) -> None:
    """Three ``search()`` calls (one single-term, one disjunctive and one
    conjunctive multi-term query) and one ``batch_search``."""
    from search_engine_spark.query import QueryEngine

    _ensure_queries(run)
    engine = QueryEngine(run.spark, run.index_dir)
    picks: dict[str, tuple[str, str]] = {}
    for i in range(len(run.stream)):
        q, mode = run.query(i)
        shape = "single" if " " not in q else mode
        picks.setdefault(shape, (q, mode))
        if len(picks) == 3:
            break
    check = not engine.has_deletes
    for q, mode in picks.values():
        run.spark_query_op("search", engine, q, mode, check)
    run.batch_op("batch_search", engine, 0, 20, check)
    engine.close()


def probe_lexicon(run: Run) -> None:
    """``lexicon_lookup`` of vocabulary terms the engine has not cached."""
    from search_engine_spark.query import QueryEngine

    engine = QueryEngine(run.spark, run.index_dir)
    rng = np.random.default_rng([run.seed, 3])
    vocab = run.corpus.vocab
    for _ in range(5):
        terms = [vocab[int(t)] for t in rng.integers(0, len(vocab), size=8)]
        run.ops.run("lexicon_lookup", engine.lexicon_lookup, terms, spark=True)


def probe_codecs(run: Run) -> None:
    """Decode a sample of the built index's chunk payloads; encode
    corpus posting lists when the workload did not."""
    import pyarrow.parquet as pq
    from search_engine_spark import codecs

    tbl = pq.read_table(
        os.path.join(run.index_dir, "chunks"), columns=["payload", "codec", "n"]
    )
    n = tbl.column("n").to_numpy()
    payloads = tbl.column("payload").to_pylist()
    run.add("payload_bytes_per_posting",
            sum(len(p) for p in payloads) / float(n.sum()))
    rng = np.random.default_rng([run.seed, 4])
    pick = rng.choice(len(payloads), size=min(4000, len(payloads)), replace=False)
    codec = tbl.column("codec").to_numpy()
    for rep in range(3):
        t0 = time.perf_counter()
        for j in pick:
            codecs.decode_chunk(payloads[j], int(codec[j]))
        dt = time.perf_counter() - t0
        run.add("decode.mpostings_per_s", float(n[pick].sum()) / dt / 1e6)
    if not run.ops.seconds["encode"]:
        for ids, tfs, starts in run.encode_batches(run.corpus) * 4:
            if run.ops.run("encode", codecs.encode_chunk_batch, ids, tfs,
                           starts) is not Ops.FAILED:
                run.add("encode.postings", len(ids))


def probe_maintenance(run: Run) -> None:
    """One 1% upsert wave with a Bloom sidecar, a query burst over
    [index, delta], then compaction of the tombstoned index."""
    from search_engine_spark import maintenance
    from search_engine_spark.query import MultiIndexQueryEngine

    _ensure_queries(run)
    base = run.index_dir
    n = max(1, run.corpus.n_docs // 100)
    in_dir, ids, text_bytes = write_wave(run, run.corpus, 0, n)
    delta, merged = run.path("probe_delta"), run.path("probe_merged")
    t0 = time.perf_counter()
    m = run.ops.run("upsert", maintenance.upsert_docs, run.spark, base,
                    run.load(in_dir), merged, delta_dir=delta,
                    build_bloom=True, spark=True)
    up_s = time.perf_counter() - t0
    if m is Ops.FAILED:
        return
    merge_s = sum(st["seconds"] for st in m["stages"].values())
    run.add("upsert.merge_s", merge_s)
    run.add("upsert.delta_s", up_s - merge_s)
    run.add("upsert.bytes_ratio", (dir_bytes(delta) + dir_bytes(merged)) / text_bytes)
    stack = run.ops.run("lsm.open", MultiIndexQueryEngine, run.spark,
                        [base, delta], spark=True)
    if stack is not Ops.FAILED:
        got = run.ops.run("lsm.marker", stack.search_local, marker(0), k=2 * n)
        if got is not Ops.FAILED and {d for d, _ in got} != {
            stack.offsets[1] + d for d in ids
        }:
            run.ops.wrong("lsm.marker")
        for i in range(20):
            q, mode = run.query(i)
            got = run.ops.run("lsm.search_local", stack.search_local, q,
                              mode=mode, k=K, spark=True)
            if got is not Ops.FAILED:
                if any(d in set(ids) for d, _ in got):
                    run.ops.wrong("lsm.search_local", "SupersededDocReturned")
                run.add("lsm.segments_ratio",
                        stack.last_searched_segments / len(stack.engines))
        stack.close()
    if run.ops.run("compact", maintenance.compact_index, run.spark, base,
                   run.path("probe_compacted"), spark=True) is not Ops.FAILED:
        run.add("compact.bytes", dir_bytes(run.path("probe_compacted")))


def fill_layers(run: Run) -> None:
    """Run the probes for the layers the workload left unmeasured."""
    s = run.samples
    if not s.get("local.chunks_scanned"):
        probe_local(run)
    if not (s.get("spark.plan_s") and s.get("batch.plan_s")
            and s.get("spark.segments_kept_ratio")):
        probe_spark(run)
    probe_lexicon(run)
    probe_codecs(run)
    if not s.get("upsert.merge_s"):
        probe_maintenance(run)


def tracing_overhead(run: Run, blocks: int = 10, per_block: int = 20) -> float:
    """End-to-end cost of tracing on the workload's driver-local op:
    alternate blocks with the tracer on and off, compare the medians,
    in percent of the untraced median."""
    from search_engine_spark import codecs
    from search_engine_spark.query import QueryEngine

    if run.local_kind == "encode":
        batches = run.encode_batches(run.corpus)

        def op(i):
            b = batches[i % len(batches)]
            return run.ops.run("overhead", codecs.encode_chunk_batch, *b)
    else:
        _ensure_queries(run)
        engine = run.engine or QueryEngine(run.spark, run.index_dir)

        def op(i):
            q, mode = run.query(i)
            return run.ops.run("overhead", engine.search_local, q, mode=mode, k=K)

    for i in range(per_block):  # warm the caches first
        op(i)
    times = {True: [], False: []}
    tracer = run.tracer
    for b in range(blocks):
        tracer.enabled = b % 2 == 0
        n0 = len(run.ops.seconds["overhead"])
        for i in range(per_block):
            op(i)
        times[tracer.enabled] += run.ops.seconds["overhead"][n0:]
    tracer.enabled = True
    return (median(times[True]) / median(times[False]) - 1.0) * 100.0
