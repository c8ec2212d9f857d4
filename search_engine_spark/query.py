"""BM25 top-k query engine over the chunked inverted index.

Implements both reference query modes (SURVEY.md §2.3; semantics from
QueryExecution.cpp:283-457 — studied, not copied):

* conjunctive (DAAT AND): docs containing ALL query terms present in the
  lexicon (terms missing from the lexicon are dropped, matching the
  reference's ``openList`` skip).
* disjunctive (TAAT OR): union of per-term scored postings.

BM25: k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5)) with NO clamp (idf
goes negative for df > N/2, reference quirk preserved), float32 outputs.

Chunk skipping (block-max WAND, see wand.py): the reference skips chunks
via nextGEQ doc-id binary search (QueryExecution.cpp:122-147); we extend
that with per-chunk score upper bounds stored at build time. Both query
paths sweep the query terms' chunk intervals into elementary segments
and process them in descending score-bound order against the running
top-k threshold — segments (and therefore chunks) whose bound cannot
reach the threshold are never decoded. Pruning is margin-safe: results
stay rank-identical to exhaustive evaluation.

Physical plan of ``search()``, below METADATA_CAP on the parquet
layout (planned on the driver):
    SegmentReader (segment.py): the query terms' chunk metadata in one
      pyarrow read (bucket-pruned, term filter pushed down) -> lexicon
      stats + per-term block-max bounds, no lexicon job
    WAND sweep -> elementary segments; theta from the metadata alone
      when the chunk bounds separate, else a phase-1 decode of the
      top-bound segments' chunks by one pyarrow point read
      (conjunctive: the rare pivot's doc ids point-read instead)
    ONE Spark job: chunks scan filtered to the surviving
      (term, salt, chunk_seq) keys by one pushed-down predicate, then
    mapInArrow decode+score (numpy, Arrow-batched; postings outside
      kept segments masked so partial scores can never surface)
    groupBy(doc_id) agg  [conjunctive adds HAVING count == n_terms]
    ORDER BY score DESC, doc_id LIMIT k   (TakeOrderedAndProject)
The reader stops at METADATA_CAP rows; above the cap the sweep itself
runs distributed (``_spark_banded``). NOT-clause and over-cap-tombstone
queries probe theta with a Spark job (the reader's mask cannot apply
their exclusions); Iceberg indexes also collect metadata and pivot ids
with Spark jobs.

A driver-local fast path (``search_local``) reads the same rows through
the same reader and runs the block-max sweep sequentially in numpy —
the interactive "REPL" parity path with ~ms latency, no Spark job.
"""

from __future__ import annotations

import heapq
import os
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import codecs, segment, wand
from .build import term_bucket
from .runtime import ensure_shipped
from .tokenizer import tokenize_query
from .wand import B, K1  # noqa: F401  (re-export: historical home)

# max chunk-metadata rows the driver will collect for WAND planning
# (~60 B/row -> ~16 MB at the cap). Above it — e.g. a multi-stop-word
# query over 10^12 docs, where one term alone owns ~10^8 chunks — the
# planner runs DISTRIBUTED (see _spark_banded): chunk intervals are
# binned into fixed doc-id bands, the same elementary-segment sweep
# runs per band as an applyInPandas job, and only bounded aggregates
# (top-bound segments, surviving-key COUNT) ever reach the driver; the
# surviving chunk keys stay in a DataFrame and prune the decode via a
# leftsemi join. Score-bounded skipping therefore never turns off,
# matching nextGEQ semantics (QueryExecution.cpp:122-147) at any scale.
METADATA_CAP = 262144

# distributed planner: escape hatch (False restores the r2 interval-only
# fallback above the cap; used by tests to compare paths)
BANDED_PLANNER = True
# band sizing: ~this many chunk rows per band task; band count clamped.
# Each (query, band) group is one Python sweep call, so the target
# trades per-group fixed overhead against group size: 256 put a 556k-
# chunk batch at ~22k groups whose ~2-4 ms/group Python cost dominated
# the whole plan (~100 s measured at 4M docs); 4096 keeps groups
# numpy-sized (a 4096-interval segment sweep is sub-ms) while a
# web-scale 10^9-chunk batch still caps at N_BANDS_MAX bands.
BAND_TARGET_CHUNKS = 4096
N_BANDS_MIN, N_BANDS_MAX = 32, 65536
# broadcast the surviving-keys side of the decode join below this count
KEYS_BROADCAST_CAP = 100_000

# when the surviving chunk-key set is at most this, collect it and turn
# the decode's leftsemi join into an exact (term, salt, chunk_seq)
# PREDICATE on the scan — In filters reach the parquet reader
# (row-group stats + dictionary pruning), so the decode does point
# reads instead of scanning every queried term's payload bytes and
# discarding them post-join. Above the cap the predicate would bloat
# the plan; the leftsemi join (broadcast under KEYS_BROADCAST_CAP)
# remains the at-scale shape.
KEYS_COLLECT_CAP = 8192

# sentinel: a batch plan proved every query returns no rows
EMPTY_BATCH = object()

# engine-pinned chunk-METADATA cache (no payload bytes): every WAND
# planning job filters a persisted metadata-only projection of the
# chunks stage instead of re-scanning parquet footers + row groups.
# This is the skip-list/lexicon tier every serving IR system pins in
# RAM — ~50 B/chunk (vs KBs of payload), MEMORY_AND_DISK so oversized
# segments spill instead of OOM, and Spark's InMemoryTableScan prunes
# cached batches on the bucket/term filters. Measured at 4M docs /
# 557k chunks the banded batch planner re-scanned the chunks parquet
# 3-4x per batch; the pinned projection removes every re-scan after
# the first. Disable with SE_META_CACHE=0 (tests compare both paths).
META_CACHE = os.environ.get("SE_META_CACHE", "1") != "0"
_META_COLS = ["bucket", *segment.META_COLS]

# driver-local phase-1 theta probe (_theta_local): the probe's chunk
# set is BOUNDED by the planner (<= 64 top segments per query), so at
# any corpus scale it is a point read of a few hundred payloads — an
# IR engine answers its threshold probe from storage directly instead
# of scheduling a distributed job per serve pass (measured at 4M docs:
# the Spark probe cost 5.7-7.4 s of fixed scheduling + scan tasks per
# batch; the pyarrow point read is tens of ms). SE_LOCAL_THETA=0
# forces the distributed probe (tests compare both paths).
LOCAL_THETA = os.environ.get("SE_LOCAL_THETA", "1") != "0"

# batch_search: skip the phase-1 threshold job when the batch's terms
# own fewer total chunks than this — decoding ~4k chunks (~0.5M
# postings) costs less than one extra Spark job round-trip, so the
# probe only pays above it (it's noise at web scale, where a single
# stop word owns orders of magnitude more chunks)
BATCH_PRUNE_FLOOR = 4096

# conjunctive pivot refinement: collect the rarest term's doc ids when
# its df is at most this (the candidate list rides to executors in the
# decode closure — ~0.5 MB at the cap)
PIVOT_DOC_CAP = 65536


def bm25_scores(
    tf: np.ndarray,
    dl: np.ndarray,
    df: int,
    n_docs: int,
    avgdl: float,
    dtype=np.float32,
) -> np.ndarray:
    """Vectorized BM25 (formula of QueryExecution.cpp:447-457).

    ``dtype=np.float32`` (default) reproduces the reference's float32
    arithmetic exactly; ``np.float64`` computes in double precision
    (used by the driver-contract oracle pairing, where both engines
    must agree to 4 decimals).
    """
    if dtype is np.float64:
        k = K1 * ((1.0 - B) + B * dl.astype(np.float64) / avgdl)
        idf = np.log((n_docs - df + 0.5) / (df + 0.5))
        tf64 = tf.astype(np.float64)
        return idf * (K1 + 1.0) * tf64 / (k + tf64)
    k1 = np.float32(K1)
    b = np.float32(B)
    tf32 = tf.astype(np.float32)
    dl32 = dl.astype(np.float32)
    K = (k1 * ((np.float32(1.0) - b) + b * dl32 / np.float32(avgdl))).astype(
        np.float32
    )
    idf = np.float32(
        np.log((np.float64(n_docs) - np.float64(df) + 0.5) / (np.float64(df) + 0.5))
    )
    return (idf * (k1 + np.float32(1.0)) * tf32 / (K + tf32)).astype(np.float32)


# the url-authority facet shared by facet_counts / search_collapsed
# (scheme-agnostic authority capture; lower-cased — hosts are
# case-insensitive, paths are not)
HOST_RX = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"


def host_col():
    """Lower-cased url host as a Column (the web facet)."""
    return F.lower(F.regexp_extract("url", HOST_RX, 1))


def parse_wildcard_query(query: str) -> tuple[list[str], list[str]]:
    """Split a wildcard query into (plain tokens, prefix stems) —
    the one grammar both the single- and multi-segment prefix_search
    share: whitespace-separated tokens, a single trailing ``*`` marks
    a prefix stem, anything else containing ``*`` raises, and a stem
    must be a single delimiter-free term."""
    plain: list[str] = []
    stems: list[str] = []
    for raw in (query or "").split():
        if raw.endswith("*"):
            stem = raw[:-1]
            if not stem or "*" in stem:
                raise ValueError(
                    f"unsupported wildcard pattern {raw!r}: only a "
                    "single trailing * is supported"
                )
            if tokenize_query(stem) != [stem]:
                raise ValueError(
                    f"prefix stem {stem!r} contains tokenizer "
                    "delimiters; prefix must be a single term stem"
                )
            stems.append(stem)
        else:
            if "*" in raw:
                raise ValueError(
                    f"unsupported wildcard pattern {raw!r}: only a "
                    "single trailing * is supported"
                )
            plain.extend(tokenize_query(raw))
    return plain, stems


class QueryEngine:
    def __init__(
        self, spark, index_dir: str, stats_override: dict | None = None
    ):
        """``stats_override`` ({"n_docs": int, "avgdl": float, "df":
        {term: int}}) scores this segment with FOREIGN collection
        statistics — the multi-segment serving hook (see
        MultiIndexQueryEngine). Chunk score bounds were computed under
        the segment's own avgdl; with an override they rescale
        conservatively: for k(a) = K1*((1-b) + b*dl/a) the per-posting
        ratio tf/(k+tf) satisfies ratio(a')/ratio(a) in
        [min(1, a'/a), max(1, a'/a)], so max_ratio * max(1, a'/a) and
        min_ratio * min(1, a'/a) stay an over-estimate of every
        chunk's best contribution (positive idf uses max_ratio,
        negative idf flips to min_ratio) — WAND pruning keeps more
        chunks, never fewer. The bounds are then no longer ATTAINED,
        so the metadata-only theta fast path disables itself."""
        self.spark = spark
        self.index_dir = index_dir
        self._bloom_state = "unloaded"
        ensure_shipped(spark)
        import json
        import os

        with open(os.path.join(index_dir, "_manifest.json")) as f:
            self.config = json.load(f)["config"]
        self.bucket_count = int(self.config["bucket_count"])
        # stage DataFrames, read once: the index is immutable for the
        # engine's lifetime, and each fresh read re-lists the files
        self._stages: dict[str, DataFrame] = {}
        row = self._stage_df("stats").collect()[0]
        self.built_n_docs = int(row["n_docs"])
        self.max_doc_id = int(row["max_doc_id"] or 0)
        # avgdl is NULL for an empty corpus (a valid, if degenerate, index)
        self.built_avgdl = float(row["avgdl"] or 1.0)
        self.n_docs = self.built_n_docs
        self.avgdl = self.built_avgdl
        self._df_override: dict[str, int] = {}
        self.has_stats_override = False
        self._apply_stats_override(stats_override)
        self.last_plan_stats: dict = {}
        self.last_local_stats: dict = {}
        # Spark actions the current query's planning issued
        self._plan_jobs = 0
        # per-engine lexicon cache: term -> RAW lexicon entry (df
        # pre-override) or None for a term proven absent. The index an
        # engine instance serves is immutable (mutations reopen the
        # engine), so entries never go stale. Size-capped LRU
        # (SE_LEX_CACHE_TERMS, default 2^20 entries of 4 ints): a
        # query stream's DISTINCT term set is unbounded at web scale,
        # and the prefix/suggest paths seed whole vocabulary slices —
        # the Zipf head that makes the cache pay stays resident under
        # LRU while the tail recycles. Repeated terms skip the lexicon
        # job entirely, and cached n_chunks lets _term_meta refuse
        # the above-cap metadata read WITHOUT paying for it first.
        from collections import OrderedDict

        self._lex_raw_cache: "OrderedDict[str, dict | None]" = OrderedDict()
        self._lex_cache_cap = int(
            os.environ.get("SE_LEX_CACHE_TERMS", str(1 << 20))
        )
        self._batch_thetas: dict[int, float] = {}
        # pinned metadata projection (see META_CACHE); built lazily on
        # the first planning read, unpersisted by close()
        self._meta_df: DataFrame | None = None
        # transient NOT-clause doc set (search_not): anti-joined in
        # _agg_topk, disables attained-bound theta shortcuts while set
        self._exclude_df: DataFrame | None = None
        # persisted excluded-doc frame of the most recent search_not:
        # released on the next search_not call or close() (persist
        # keeps lineage, so an older result re-collected after release
        # recomputes its exclusion set instead of failing)
        self._not_cached: DataFrame | None = None
        # lazily-built broadcast frame of the driver-side tombstone
        # array (see _alive_df)
        self._deleted_bcast_df: DataFrame | None = None
        # tombstoned doc ids (maintenance.delete_docs): a sorted int64
        # array when the set fits the driver cap (decode paths mask
        # in-place), else a distributed DataFrame (anti-join fallback).
        # Loaded once at engine construction — reopen the engine after
        # new deletes, like any other index mutation.
        from .maintenance import load_deleted_array

        self._deleted, self._deleted_df = load_deleted_array(
            spark, index_dir
        )
        self.has_deletes = (
            self._deleted is not None or self._deleted_df is not None
        )
        # driver-side pyarrow view of the chunks; None on Iceberg,
        # whose planners collect metadata with Spark jobs
        self._reader = (
            None if self.config.get("table_format") == "iceberg"
            else segment.SegmentReader(
                index_dir, self.bucket_count, self._deleted
            )
        )

    def _alive_df(self, df: DataFrame) -> DataFrame:
        """Anti-join tombstones out of a (doc_id, ...) DataFrame."""
        if self._deleted is not None:
            dels = self._deleted_bcast_df
            if dels is None:
                # built ONCE per engine: the tombstone set is immutable
                # for the engine's lifetime, and near the 4M-id driver
                # cap rebuilding the tuple list + broadcast per query
                # cost ~32 MB of fresh allocations each call
                dels = self._deleted_bcast_df = F.broadcast(
                    self.spark.createDataFrame(
                        pd.DataFrame(
                            {"doc_id": self._deleted.astype("int64")}
                        )
                    )
                )
            return df.join(dels, "doc_id", "left_anti")
        if self._deleted_df is not None:
            return df.join(self._deleted_df, "doc_id", "left_anti")
        return df

    def _stage_df(self, stage: str) -> DataFrame:
        """A build stage from either persistence layout (parquet path, or
        the Iceberg table recorded in the manifest), read once."""
        df = self._stages.get(stage)
        if df is not None:
            return df
        if self.config.get("table_format") == "iceberg":
            df = self.spark.table(
                f"{self.config['catalog']}.{self.config['namespace']}.{stage}"
            )
        else:
            from .build import read_stage_parquet

            df = read_stage_parquet(
                self.spark, f"{self.index_dir}/{stage}", stage
            )
        self._stages[stage] = df
        return df

    # ------------------------------------------------------------ helpers

    def _apply_stats_override(self, stats_override: dict | None) -> None:
        """(Re)apply foreign collection statistics (see __init__ doc).
        Called at construction and by MultiIndexQueryEngine, which
        opens each segment once, derives the global stats from the
        open engines, and applies them here — instead of constructing
        every segment twice. Must run before any query (the serving
        caches key nothing on the stats, but planning reads them)."""
        if stats_override:
            self.has_stats_override = True
            self.n_docs = int(stats_override.get("n_docs", self.n_docs))
            self.avgdl = float(stats_override.get("avgdl", self.avgdl))
            self._df_override = {
                str(t): int(v)
                for t, v in (stats_override.get("df") or {}).items()
            }
        _r = self.avgdl / self.built_avgdl if self.built_avgdl > 0 else 1.0
        self._scale_max = max(1.0, _r)
        self._scale_min = min(1.0, _r)

    def _buckets(self, terms: list[str]) -> list[int]:
        return sorted({term_bucket(t, self.bucket_count) for t in terms})

    def _df_of(self, term: str, local_df: int) -> int:
        """Per-term df for idf: the stats_override value when serving
        multi-segment (global df), else the segment-local value."""
        return int(self._df_override.get(term, local_df))

    def _lex_cache_put(
        self, term: str, entry: dict | None, overwrite: bool = True
    ) -> None:
        """Insert/refresh one lexicon-cache entry under the LRU cap.
        ``overwrite=False`` keeps an existing entry (setdefault
        semantics — used by seeding paths whose entries are no fresher
        than what a real lookup already cached)."""
        c = self._lex_raw_cache
        if term in c:
            if overwrite:
                c[term] = entry
            c.move_to_end(term)
            return
        c[term] = entry
        while len(c) > self._lex_cache_cap:
            c.popitem(last=False)

    def lexicon_lookup(self, terms: list[str]) -> dict[str, dict]:
        if not terms:
            return {}
        cache = self._lex_raw_cache
        # snapshot resolved entries first: LRU eviction mid-call (a
        # term list wider than the cap) must degrade to extra lookups,
        # never to a present term reading back as absent
        resolved: dict[str, dict | None] = {}
        for t in terms:
            if t in cache:
                cache.move_to_end(t)  # LRU touch
                resolved[t] = cache[t]
        missing = sorted({t for t in terms if t not in resolved})
        if missing and self._term_bloom() is not None:
            # bloom fast-path: a bloom-negative term is definitely not
            # in the lexicon (no false negatives), so it resolves to
            # absent driver-side — a query made only of typo/foreign
            # terms costs ZERO Spark jobs here. Bloom-positive terms
            # still pay the (possibly false-positive) point lookup.
            maybe = set(self.bloom_prune(missing))
            for t in missing:
                if t not in maybe:
                    self._lex_cache_put(t, None)
                    resolved[t] = None
            missing = sorted(maybe)
        if missing:
            df = (
                self._stage_df("lexicon")
                .where(F.col("bucket").isin(self._buckets(missing)))
                .where(F.col("term").isin(missing))
            )
            found = {
                r["term"]: {
                    "df": int(r["df"]),
                    "n_chunks": int(r["n_chunks"]),
                    "min_doc_id": int(r["min_doc_id"]),
                    "max_doc_id": int(r["max_doc_id"]),
                }
                for r in df.collect()
            }
            for t in missing:
                self._lex_cache_put(t, found.get(t))
                resolved[t] = found.get(t)
        out: dict[str, dict] = {}
        for t in dict.fromkeys(terms):
            e = resolved[t]
            if e is not None:
                out[t] = {**e, "df": self._df_of(t, e["df"])}
        return out

    def _chunks(self, terms: list[str]) -> DataFrame:
        """Chunk rows of ``terms``: bucket partitions pruned, term filter
        pushed to the scan (one ``F.expr``, not a py4j call per term)."""
        buckets = ", ".join(map(str, self._buckets(terms)))
        names = ", ".join(segment.sql_string(t) for t in terms)
        return self._stage_df("chunks").where(
            F.expr(f"bucket IN ({buckets}) AND term IN ({names})")
        )

    def _chunks_meta(self, terms: list[str]) -> DataFrame:
        """Metadata-only chunk rows (never payload bytes) for WAND
        planning, served from the engine-pinned persisted projection
        when META_CACHE is on (see the constant's rationale). The index
        an engine serves is immutable, so the pinned frame never goes
        stale. Falls through to the parquet scan when disabled."""
        if not META_CACHE:
            src = self._stage_df("chunks")
            cols = [c for c in _META_COLS if c in src.columns]
            src = src.select(cols)
        else:
            if self._meta_df is None:
                from pyspark import StorageLevel

                raw = self._stage_df("chunks")
                cols = [c for c in _META_COLS if c in raw.columns]
                self._meta_df = raw.select(cols).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
            src = self._meta_df
        return src.where(
            F.col("bucket").isin(self._buckets(terms))
        ).where(F.col("term").isin(terms))

    def close(self) -> None:
        """Release engine-pinned executor memory (the metadata cache
        and the last NOT-clause doc set). Optional — Spark reclaims
        both when the session ends."""
        if self._meta_df is not None:
            self._meta_df.unpersist()
            self._meta_df = None
        if self._not_cached is not None:
            self._not_cached.unpersist()
            self._not_cached = None

    def _term_bloom(self):
        """Lazy driver-side term Bloom filter (build.build_term_bloom
        sidecar), or None when the segment has none / it is
        unreadable — in which case every term is a candidate and the
        engine behaves exactly as before the sidecar existed."""
        if self._bloom_state == "unloaded":
            import json
            import os

            loaded = codecs.bloom_load(
                os.path.join(self.index_dir, codecs.BLOOM_DIR)
            )
            if loaded is not None:
                # staleness guard: a sidecar built for a DIFFERENT
                # lexicon (index rebuilt in place without re-running
                # build_term_bloom) could produce false negatives —
                # the one thing a bloom must never do. The builder
                # also deletes sidecars when the lexicon stage reruns;
                # this check catches manually-copied artifacts too.
                try:
                    with open(
                        os.path.join(self.index_dir, "_manifest.json")
                    ) as f:
                        lex_rows = int(
                            json.load(f)["stages"]["lexicon"]["rows"]
                        )
                except Exception:
                    lex_rows = None
                if lex_rows is not None and lex_rows != loaded[3]:
                    loaded = None
            self._bloom_state = loaded[:3] if loaded else None
        return self._bloom_state

    def bloom_prune(self, terms: list[str]) -> list[str]:
        """Subset of ``terms`` this segment MIGHT contain, by the term
        bloom (order preserved). Without a sidecar returns the input
        unchanged. Never drops an indexed term (bloom false negatives
        are impossible — codecs.bloom_positions is the build's exact
        twin), so callers may skip lookups/searches for pruned terms
        with no effect on results."""
        bl = self._term_bloom()
        if bl is None:
            return list(terms)
        words, m, k = bl
        return [
            t
            for t in terms
            if codecs.bloom_may_contain(words, m, k, t)
        ]

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    @staticmethod
    def _keys_predicate(keys) -> "F.Column":
        """Exact (term, salt, chunk_seq) chunk-key set as a PREDICATE:
        a balanced OR over (term, salt) groups of ``chunk_seq IN (...)``
        (segment.keys_sql), parsed by ONE ``F.expr`` call.

        Selects exactly the same rows as a leftsemi join against the
        key set, but as a scan filter it reaches the parquet reader
        (``PushedFilters``): within a bucket the chunk files are
        term-sorted, so row groups of non-kept terms prune on term
        stats and the In list prunes on chunk_seq ranges — the decode
        reads ~|keys| chunk payloads instead of every queried term's.
        Callers gate on KEYS_COLLECT_CAP."""
        return F.expr(segment.keys_sql(keys))

    def _keys_result(self, keys: list[tuple]):
        """Planner result for a surviving-key set: the driver-side list
        itself under KEYS_COLLECT_CAP (consumers apply the exact
        pushdown predicate), else a broadcast DataFrame for a leftsemi
        join."""
        if len(keys) <= KEYS_COLLECT_CAP:
            return keys
        return F.broadcast(
            self.spark.createDataFrame(
                keys, "term string, salt int, chunk_seq int"
            )
        )

    def _resolve_keys(self, keys_df: DataFrame, n_keys: int):
        """Distributed twin of :meth:`_keys_result`: dispatch a
        surviving-key FRAME by its known count — collect to a sorted
        driver list under KEYS_COLLECT_CAP (so consumers get the exact
        pushdown predicate), broadcast-hint under KEYS_BROADCAST_CAP,
        else leave it for a shuffle leftsemi. Encodes the collect/
        broadcast/shuffle policy for DISTRIBUTED planner outputs;
        :meth:`_keys_result` is the twin for driver-resident lists and
        owns the list->broadcast conversion."""
        if n_keys <= KEYS_COLLECT_CAP:
            return sorted(
                (r["term"], int(r["salt"]), int(r["chunk_seq"]))
                for r in keys_df.collect()
            )
        if n_keys <= KEYS_BROADCAST_CAP:
            return F.broadcast(keys_df)
        return keys_df

    def _apply_keys(self, chunks: DataFrame, keys) -> DataFrame:
        """Filter a chunks frame to a surviving chunk-key set — the one
        place applying the dispatch policy. A driver-side list under
        KEYS_COLLECT_CAP becomes the exact (term, salt, chunk_seq)
        pushdown predicate (point reads at the scan); a longer list is
        already driver-resident, so it ships as a broadcast leftsemi;
        a DataFrame joins leftsemi as-is (any broadcast hint was
        attached by :meth:`_resolve_keys`)."""
        if isinstance(keys, list):
            if not keys:
                return chunks.where(F.lit(False))
            if len(keys) <= KEYS_COLLECT_CAP:
                return chunks.where(self._keys_predicate(keys))
            # over-cap list: _keys_result owns the list->broadcast
            # conversion (single policy site)
            keys = self._keys_result(keys)
        return chunks.join(keys, ["term", "salt", "chunk_seq"], "leftsemi")

    def _scored_postings(
        self,
        chunks: DataFrame,
        lex: dict[str, dict],
        intervals: tuple[np.ndarray, np.ndarray] | None = None,
        with_dl: bool = False,
        dtype=np.float32,
        candidates: np.ndarray | None = None,
    ) -> DataFrame:
        """Decode chunks and emit per-posting BM25 scores.

        ``intervals`` (disjoint sorted half-open doc-id ranges) masks
        decoded postings to the kept WAND segments, so docs outside them
        can never surface with partial disjunctive scores.
        ``candidates`` (sorted doc ids, broadcast via closure) masks to
        an explicit candidate set — the conjunctive pivot refinement.
        """
        n_docs, avgdl = self.n_docs, self.avgdl
        dfs = {t: e["df"] for t, e in lex.items()}
        lo_arr, hi_arr = (intervals if intervals is not None else (None, None))
        out_dtype = "double" if dtype is np.float64 else "float"
        # tombstone mask (stats/df stay intentionally stale — Lucene
        # deleted-docs semantics; see maintenance.py module doc). theta
        # probes run through this same decode, so thresholds are always
        # attained by ALIVE docs.
        deleted = self._deleted

        def decode(batches):
            # Arrow-NATIVE decode (mapInArrow — same reasoning as the
            # build's encode_partition): the pandas twin materialized a
            # Python str PER POSTING via np.repeat(term, len(ids)) over
            # object arrays and paid a pandas→Arrow conversion on ~10^7
            # output rows per batch of queries. Here the only Python
            # strings are the DISTINCT terms of the batch (dictionary-
            # encoded in Arrow C++); the per-posting term column is a
            # C++ dictionary gather, and every output column is a
            # zero-copy numpy→Arrow array. Payload bytes still box per
            # CHUNK (decode_chunk wants one buffer per chunk) — that is
            # ~128x fewer objects than per-posting.
            import pyarrow as pa
            import pyarrow.compute as pc

            score_type = (
                pa.float64() if dtype is np.float64 else pa.float32()
            )
            names = ["term", "doc_id", "tf", "score"] + (
                ["dl"] if with_dl else []
            )
            for rb in batches:
                if not rb.num_rows:
                    continue
                col = {
                    n: rb.column(i) for i, n in enumerate(rb.schema.names)
                }
                denc = pc.dictionary_encode(
                    col["term"].cast(pa.string())
                )
                t_codes = denc.indices.to_numpy(zero_copy_only=False)
                uniq = denc.dictionary.to_pylist()
                udfs = [dfs[t] for t in uniq]
                codec_np = col["codec"].to_numpy(zero_copy_only=False)
                payloads = col["payload"].to_pylist()
                dls_raw = col["dls"].to_pylist()
                code_out, ids_out, tfs_out, dls_out, scores_out = (
                    [],
                    [],
                    [],
                    [],
                    [],
                )
                for i in range(rb.num_rows):
                    ids, tfs = codecs.decode_chunk(
                        payloads[i], int(codec_np[i])
                    )
                    dl = codecs.decode_lengths(dls_raw[i])
                    if deleted is not None and len(ids):
                        ids64 = ids.astype(np.int64)
                        pos = np.searchsorted(deleted, ids64)
                        pos_safe = np.clip(pos, 0, len(deleted) - 1)
                        keep = deleted[pos_safe] != ids64
                        if not keep.all():
                            ids, tfs, dl = ids[keep], tfs[keep], dl[keep]
                    if lo_arr is not None:
                        keep = wand.ids_in_intervals(
                            ids.astype(np.int64), lo_arr, hi_arr
                        )
                        if not keep.all():
                            ids, tfs, dl = ids[keep], tfs[keep], dl[keep]
                    if candidates is not None and len(ids):
                        ids64 = ids.astype(np.int64)
                        pos = np.searchsorted(candidates, ids64)
                        pos_safe = np.clip(pos, 0, len(candidates) - 1)
                        keep = candidates[pos_safe] == ids64
                        if not keep.all():
                            ids, tfs, dl = ids[keep], tfs[keep], dl[keep]
                    if not len(ids):
                        continue
                    tc = int(t_codes[i])
                    s = bm25_scores(
                        tfs, dl, udfs[tc], n_docs, avgdl, dtype
                    )
                    code_out.append(
                        np.full(len(ids), tc, dtype=np.int32)
                    )
                    ids_out.append(ids.astype(np.int64))
                    tfs_out.append(tfs.astype(np.int64))
                    dls_out.append(dl.astype(np.int64))
                    scores_out.append(s)
                if not ids_out:
                    continue
                term_col = pc.take(
                    denc.dictionary, pa.array(np.concatenate(code_out))
                )
                arrays = [
                    term_col,
                    pa.array(np.concatenate(ids_out)),
                    pa.array(np.concatenate(tfs_out)),
                    pa.array(np.concatenate(scores_out), type=score_type),
                ]
                if with_dl:
                    arrays.append(pa.array(np.concatenate(dls_out)))
                yield pa.RecordBatch.from_arrays(arrays, names)

        schema = f"term string, doc_id long, tf long, score {out_dtype}"
        if with_dl:
            schema += ", dl long"
        out = chunks.select("term", "codec", "payload", "dls").mapInArrow(
            decode, schema
        )
        if self._deleted_df is not None:
            # tombstone set exceeded the driver cap: distributed anti-join
            out = out.join(self._deleted_df, "doc_id", "left_anti")
        return out

    # --------------------------------------------------- WAND planning

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _term_meta(self, terms: list[str]) -> segment.ChunkRows | None:
        """Chunk rows of ``terms`` with their lexicon stats and WAND
        metadata (segment.ChunkRows): ONE read serves both the planner
        and the lexicon (df = sum of chunk n), so a query needs no
        separate lexicon job. The parquet layout reads it through the
        SegmentReader (no Spark job, at most METADATA_CAP rows plus one
        record batch), Iceberg collects it with one Spark job; neither
        reads payloads.
        Returns None when the index predates bound columns or the term
        set exceeds METADATA_CAP (callers fall back to the lexicon +
        banded or interval planners)."""
        if all(t in self._lex_raw_cache for t in terms):
            # cached n_chunks already prove the outcome: skip the
            # above-cap read (at web scale EVERY query's term set
            # exceeds the cap, so without this a serving engine pays a
            # doomed METADATA_CAP-row read per query)
            total = sum(
                e["n_chunks"]
                for e in (self._lex_raw_cache[t] for t in terms)
                if e is not None
            )
            if total > METADATA_CAP:
                return None
        if self._reader is not None:
            tbl = self._reader.table(terms, keep=False, cap=METADATA_CAP)
            if tbl is None or "max_ratio" not in tbl.column_names:
                return None
        else:
            import pyarrow as pa

            chunks = self._chunks_meta(terms)
            if "max_ratio" not in chunks.columns:
                return None
            self._plan_jobs += 1
            rows = (
                chunks.select(*segment.META_COLS)
                .limit(METADATA_CAP + 1)
                .collect()
            )
            tbl = pa.table({
                c: pa.array(
                    [r[c] for r in rows],
                    pa.string() if c == "term"
                    else pa.float64() if c.endswith("_ratio")
                    else pa.int64(),
                )
                for c in segment.META_COLS
            })
        if tbl.num_rows > METADATA_CAP:
            return None
        cr = segment.ChunkRows(
            tbl, self.n_docs, self._df_of, self._scale_max, self._scale_min
        )
        for t, e in cr.lex.items():
            self._lex_cache_put(t, {**e, "df": cr.raw_df[t]})
        for t in terms:
            self._lex_cache_put(t, None, overwrite=False)  # proven absent
        return cr

    def _segments_job(
        self,
        present: list[str],
        lex: dict[str, dict],
        cr: segment.ChunkRows,
        seg_lo: np.ndarray,
        seg_hi: np.ndarray,
        cover: np.ndarray,
        mode: str,
        k: int,
        explain: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        """Exact scoring restricted to the given segments: decode only
        their covering chunks, mask postings to the segment union."""
        keys = cr.cover_keys(present, cover)
        lo, hi = wand.merge_intervals(seg_lo, seg_hi)
        self.last_plan_stats["chunks_kept"] = len(keys)
        return self._keys_job(
            present, lex, sorted(keys), (lo, hi), mode, k, explain, dtype
        )

    def _keys_job(
        self,
        present: list[str],
        lex: dict[str, dict],
        keys: list[tuple],
        intervals: tuple[np.ndarray, np.ndarray] | None,
        mode: str,
        k: int,
        explain: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        """Decode+score exactly the given (term, salt, chunk_seq) chunk
        keys, optionally masking postings to doc-id intervals."""
        kept = self._apply_keys(self._chunks(present), keys)
        scored = self._scored_postings(
            kept, lex, intervals=intervals, with_dl=explain, dtype=dtype
        )
        return self._agg_topk(scored, mode, len(present), k, explain, dtype)

    def _meta_theta(
        self, present: list[str], metas: dict[str, wand.TermChunks], k: int
    ) -> float | None:
        """Score threshold from chunk metadata ALONE (no decode job).

        A chunk's bound is ATTAINED: ``max_ratio`` is the exact maximum
        tf/(K+tf) over its postings, so some doc scores exactly
        idf*(K1+1)*max_ratio on that term. Chunks of one term hold
        disjoint doc ranges, so that term's k highest chunk bounds are
        attained by k DISTINCT docs; when every query term has
        nonnegative idf, each doc's total score >= its attained bound
        (other terms only add). Hence max over terms of the k-th
        highest chunk bound is a true lower bound of the k-th best
        total score. Invalid for conjunctive (the attaining doc need
        not contain the other terms) and with negative idf anywhere
        (another term could subtract) — callers gate on both.
        """
        theta0 = None
        for t in present:
            b = metas[t].bound
            if len(b) >= k:
                cand = float(np.partition(b, -k)[-k])
                if theta0 is None or cand > theta0:
                    theta0 = cand
        if theta0 is None or theta0 <= 0:
            return None
        # scoring runs in float32; deflate so the attained scores
        # still clear the threshold after rounding
        return theta0 * (1.0 - wand.BOUND_MARGIN)

    def _probe_theta(
        self,
        present: list[str],
        lex: dict[str, dict],
        keys: list[tuple],
        lo: np.ndarray,
        hi: np.ndarray,
        mode: str,
        k: int,
        dtype,
    ) -> float | None:
        """Phase-1 threshold: the k-th best score over exactly ``keys``'
        postings masked to the merged segment intervals [lo, hi) (mask
        => exact scores for the docs inside, so a true lower bound of
        the k-th best final score); None below k masked results. A
        driver point read where the layout allows, else one Spark
        job."""
        if self._theta_local_ok(len(keys)):
            return self._theta_local(
                keys,
                [(0, int(a), int(b)) for a, b in zip(lo.tolist(), hi.tolist())],
                lex,
                mode == "conjunctive" and len(present) > 1,
                k,
                {0: present},
                dtype,
            ).get(0)
        self.last_plan_stats["theta_probe"] = "spark"
        self._plan_jobs += 1
        rows = self._keys_job(
            present, lex, keys, (lo, hi), mode, k, dtype=dtype
        ).collect()
        return float(rows[-1]["score"]) if len(rows) >= k else None

    def _conjunctive_pivot(
        self,
        present: list[str],
        lex: dict[str, dict],
        cr: segment.ChunkRows,
        pivot: str,
        k: int,
        explain: bool,
        dtype,
        schema: str,
    ) -> DataFrame:
        """Conjunctive nextGEQ at posting granularity: the (rare) pivot
        term's doc ids — point-read by the driver on the parquet layout,
        else collected by one Spark job (tombstoned or NOT-excluded ids
        among them are harmless: the final job drops them) — pick, per
        other term, exactly the chunks containing a candidate; the
        final job decodes that chunk set with the candidate mask and
        runs the exact conjunctive aggregation."""
        pivot_rows = cr.metas[pivot].rows.tolist()
        if self._reader is not None:
            got = self._reader.decode_keys([cr.key(r) for r in pivot_rows])
            cand = np.sort(np.concatenate([v[0] for v in got.values()]))
        else:
            self._plan_jobs += 1
            ids = (
                self._scored_postings(self._chunks([pivot]), lex)
                .select("doc_id")
                .collect()
            )
            cand = np.array(sorted(r["doc_id"] for r in ids), dtype=np.int64)
        if not len(cand):
            return self._empty(schema)
        keys = {cr.key(r) for r in pivot_rows}
        for t in present:
            if t == pivot:
                continue
            m = cr.metas[t]
            idx = np.searchsorted(m.first, cand, side="right") - 1
            safe = np.clip(idx, 0, None)
            hit = (idx >= 0) & (m.last[safe] >= cand)
            for ci in np.unique(idx[hit]).tolist():
                keys.add(cr.key(m.rows[ci]))
        self.last_plan_stats.update(
            {
                "pruner": "pivot_nextgeq",
                "pivot": pivot,
                "chunks_kept": len(keys),
                "candidates": len(cand),
            }
        )
        kept = self._apply_keys(self._chunks(present), sorted(keys))
        scored = self._scored_postings(
            kept, lex, with_dl=explain, dtype=dtype, candidates=cand
        )
        return self._agg_topk(
            scored, "conjunctive", len(present), k, explain, dtype
        )

    # ------------------------------------- distributed (banded) planner

    def _bound_meta(self, present: list[str], lex: dict[str, dict]) -> DataFrame:
        """Chunk metadata (term, salt, chunk_seq, first_doc_id,
        last_doc_id, n, bound) where ``bound`` is the row's block-max
        score bound for its term.

        The per-term (scale, use_min) pair comes in via a BROADCAST
        join against a tiny driver-built frame — a per-term CASE WHEN
        chain would grow linearly with the distinct-term count and, in
        ``_batch_banded`` (every distinct term of a web-scale batch),
        risk whole-stage-codegen's 64KB method limit / analyzer stack
        depth on exactly the path that exists for scale; the join keeps
        the expression O(1). idf comes from the lexicon stats
        (driver-side); negative idf uses min_ratio (the least-negative
        contribution)."""
        rows = []
        for t in present:
            t_idf = wand.idf(lex[t]["df"], self.n_docs)
            rows.append(
                (t, float(t_idf * (wand.K1 + 1.0)), bool(t_idf < 0))
            )
        bdf = F.broadcast(
            self.spark.createDataFrame(
                rows, "term string, _scale double, _use_min boolean"
            )
        )
        bound = F.col("_scale") * F.when(
            F.col("_use_min"), F.col("min_ratio") * F.lit(self._scale_min)
        ).otherwise(F.col("max_ratio") * F.lit(self._scale_max))
        return (
            self._chunks_meta(present)
            .join(bdf, "term")
            .select(
                "term",
                "salt",
                "chunk_seq",
                "first_doc_id",
                "last_doc_id",
                "n",
                bound.alias("bound"),
            )
        )

    def _banded_segments(
        self, present: list[str], lex: dict[str, dict], conj: bool
    ) -> DataFrame:
        """The elementary-segment sweep as a SPARK JOB (used above
        METADATA_CAP, where chunk metadata must not be collected).

        Chunk intervals are binned into fixed-width doc-id bands
        (``explode(sequence(first_band, last_band))`` — a term's
        intervals are globally disjoint even when salted, because salts
        are contiguous doc-id ranges, so per term each band sees a
        disjoint clipped interval set and the per-band sweep is exact).
        Each band group runs the SAME numpy sweep as the driver path
        (wand.sweep_segments) over its clipped intervals via
        applyInPandas; bands partition the doc-id space, so segments
        are globally disjoint and their bounds identical to a global
        sweep (band edges only split segments, never change coverage).

        Returns one row per (segment, covering chunk):
        (seg_lo, seg_hi, bound, est, loc_r, term, salt, chunk_seq)
        where ``loc_r`` is the segment's band-local bound rank — the
        global top-64 is a subset of the per-band top-64, so the
        planner's top-segment collect pre-filters on it and its
        shuffle stays bounded by 64 x terms x bands rows.
        """
        n_terms = len(present)
        gmin = min(lex[t]["min_doc_id"] for t in present)
        gmax = max(lex[t]["max_doc_id"] for t in present)
        total_chunks = sum(lex[t]["n_chunks"] for t in present)
        n_bands = min(
            max(total_chunks // BAND_TARGET_CHUNKS, N_BANDS_MIN), N_BANDS_MAX
        )
        width = max(1, -(-(gmax - gmin + 1) // n_bands))
        meta = self._bound_meta(present, lex)
        band = F.explode(
            F.sequence(
                F.floor((F.col("first_doc_id") - gmin) / width),
                F.floor((F.col("last_doc_id") - gmin) / width),
            )
        ).alias("band")
        banded = meta.select("*", band)

        def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "seg_lo": pd.Series(dtype="int64"),
                    "seg_hi": pd.Series(dtype="int64"),
                    "bound": pd.Series(dtype="float64"),
                    "est": pd.Series(dtype="int64"),
                    "loc_r": pd.Series(dtype="int32"),
                    "term": pd.Series(dtype="object"),
                    "salt": pd.Series(dtype="int32"),
                    "chunk_seq": pd.Series(dtype="int32"),
                }
            )
            b = int(pdf["band"].iloc[0])
            blo = gmin + b * width
            bhi = blo + width  # exclusive
            metas: dict[str, wand.TermChunks] = {}
            for t, g in pdf.groupby("term"):
                metas[t] = wand.TermChunks(
                    first=np.maximum(g["first_doc_id"].to_numpy(), blo),
                    last=np.minimum(g["last_doc_id"].to_numpy(), bhi - 1),
                    n=g["n"].to_numpy(),
                    bound=g["bound"].to_numpy(),
                    rows=np.stack(
                        [g["salt"].to_numpy(), g["chunk_seq"].to_numpy()],
                        axis=1,
                    ),
                )
            if conj and len(metas) < n_terms:
                return empty
            terms_sorted = sorted(metas)
            seg_lo, seg_hi, bound, cover = wand.sweep_segments(metas, conj)
            if len(seg_lo) == 0:
                return empty
            est = np.zeros(len(seg_lo), dtype=np.int64)
            for j, t in enumerate(terms_sorted):
                cj = cover[:, j]
                nn = np.where(cj >= 0, metas[t].n[np.clip(cj, 0, None)], 0)
                est = (
                    np.minimum(est, nn)
                    if conj and j
                    else (nn if conj else est + nn)
                )
            # band-local segment rank by (bound desc, seg_lo asc) —
            # same tiebreak as the global top collect (see the batch
            # twin in _batch_banded for the subset argument)
            order = np.argsort(-bound, kind="stable")
            loc_r = np.empty(len(order), dtype=np.int32)
            loc_r[order] = np.arange(1, len(order) + 1, dtype=np.int32)
            outs = []
            for j, t in enumerate(terms_sorted):
                cj = cover[:, j]
                sel = cj >= 0
                if not sel.any():
                    continue
                rows = metas[t].rows[cj[sel]]
                outs.append(
                    pd.DataFrame(
                        {
                            "seg_lo": seg_lo[sel],
                            "seg_hi": seg_hi[sel],
                            "bound": bound[sel],
                            "est": est[sel],
                            "loc_r": loc_r[sel],
                            "term": t,
                            "salt": rows[:, 0].astype(np.int32),
                            "chunk_seq": rows[:, 1].astype(np.int32),
                        }
                    )
                )
            return pd.concat(outs, ignore_index=True) if outs else empty

        schema = (
            "seg_lo long, seg_hi long, bound double, est long, "
            "loc_r int, term string, salt int, chunk_seq int"
        )
        return banded.groupBy("band").applyInPandas(sweep, schema)

    def _spark_banded(
        self,
        present: list[str],
        lex: dict[str, dict],
        mode: str,
        k: int,
        explain: bool,
        dtype,
        schema: str,
    ) -> DataFrame:
        """Block-max WAND above METADATA_CAP, fully distributed.

        Phase 1 (theta): collect the top-bound segments only (bounded:
        <= 64 rows), decode their covering chunks with the segment-union
        interval MASK (exact scores for docs inside; masking matters
        here because theta must be a true lower bound of the k-th best
        score). Phase 2: keep segments with bound >= theta; their
        (term, salt, chunk_seq) keys stay DISTRIBUTED (localCheckpoint
        truncates the sweep lineage) and prune the decode via a
        leftsemi join — broadcast when the surviving count is small.

        Phase 2 needs NO interval mask: a doc in a pruned segment can
        only aggregate a PARTIAL score, and every per-term partial
        contribution is <= that term's (clamped) chunk bound, so
        partial <= segment bound < theta <= k-th best — phase 1 proved
        k docs with exact scores >= theta exist, and those docs live in
        kept segments (their bounds >= their scores), so no
        partial-scored doc can enter the top k, even on ties (strict
        inequality via the margin-inflated bound).
        """
        conj = mode == "conjunctive" and len(present) > 1
        segs = self._banded_segments(present, lex, conj).persist()
        try:
            # ONE collect yields the top-bound segments AND their
            # covering chunk keys (collect_set of <= |terms| structs
            # per segment) — round 3 ran a second cache-scan job to
            # fetch the chosen segments' keys; at scale every planner
            # job is a driver round-trip worth deleting
            top = (
                segs.where(F.col("loc_r") <= 64)
                .groupBy("seg_lo", "seg_hi", "bound", "est")
                .agg(
                    F.collect_set(
                        F.struct("term", "salt", "chunk_seq")
                    ).alias("_ks")
                )
                .orderBy(F.desc("bound"), F.asc("seg_lo"))
                .limit(64)
                .collect()
            )
            if not top:
                return self._empty(schema)
            self.last_plan_stats.update(
                {"pruner": "banded_wand", "bands": True}
            )
            est = np.array([r["est"] for r in top], dtype=np.int64)
            cum = np.cumsum(est)
            n_p1 = int(np.searchsorted(cum, 4 * k) + 1)
            n_p1 = min(max(n_p1, 16), len(top))
            theta = None
            # len(top) == 64 means more segments likely exist beyond the
            # collected prefix — phase 1 is then always worthwhile; with
            # fewer, phase 1 only pays if it covers a strict subset
            if n_p1 < len(top) or len(top) == 64:
                chosen = top[:n_p1]
                lo, hi = wand.merge_intervals(
                    np.array([r["seg_lo"] for r in chosen], dtype=np.int64),
                    np.array([r["seg_hi"] for r in chosen], dtype=np.int64),
                )
                p1_keys = sorted(
                    {
                        (s["term"], int(s["salt"]), int(s["chunk_seq"]))
                        for r in chosen
                        for s in r["_ks"]
                    }
                )
                theta = self._probe_theta(
                    present, lex, p1_keys, lo, hi, mode, k, dtype
                )
            kept = segs
            if theta is not None:
                kept = segs.where(F.col("bound") >= theta)
                self.last_plan_stats["theta"] = theta
            keys_df = (
                kept.select("term", "salt", "chunk_seq")
                .distinct()
                .localCheckpoint(eager=True)
            )
            n_keys = keys_df.count()
            self.last_plan_stats["chunks_kept"] = n_keys
            if n_keys == 0:
                return self._empty(schema)
            # checkpointed + counted already: under the collect cap the
            # key set comes back to the driver so the decode scan does
            # pushdown point reads
            kept_chunks = self._apply_keys(
                self._chunks(present), self._resolve_keys(keys_df, n_keys)
            )
            scored = self._scored_postings(
                kept_chunks, lex, with_dl=explain, dtype=dtype
            )
            return self._agg_topk(scored, mode, len(present), k, explain, dtype)
        finally:
            segs.unpersist()

    def _agg_topk(
        self,
        scored: DataFrame,
        mode: str,
        n_terms: int,
        k: int,
        explain: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        score_t = "double" if dtype is np.float64 else "float"
        aggs = [
            F.sum("score").cast(score_t).alias("score"),
            F.count("*").alias("_nt"),
        ]
        if explain:
            aggs += [
                F.first("dl").alias("doc_length"),
                F.sort_array(
                    F.collect_list(F.struct("term", "score", "tf"))
                ).alias("terms"),
            ]
        agg = scored.groupBy("doc_id").agg(*aggs)
        if mode == "conjunctive":
            agg = agg.where(F.col("_nt") == n_terms)
        if self._exclude_df is not None:
            # NOT clause: post-agg (one row per doc) anti-join; AQE
            # picks broadcast when the excluded set is small. Applied
            # here — the single convergence point of every query path —
            # so phase-1/spark theta probes rank only SURVIVING docs
            # and their thresholds stay safe under exclusion.
            agg = agg.join(self._exclude_df, "doc_id", "left_anti")
        return (
            agg.drop("_nt")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # ------------------------------------------------------------- search

    def search(
        self,
        query: str,
        mode: str = "disjunctive",
        k: int = 10,
        explain: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        """Top-k (doc_id, score) DataFrame for one query.

        ``explain=True`` adds the reference's per-result detail
        (QueryExecution.cpp:459-498): ``doc_length`` plus a ``terms``
        array of (term, score, tf) per matched term.
        """
        terms = tokenize_query(query)
        schema = "doc_id long, score " + (
            "double" if dtype is np.float64 else "float"
        )
        if explain:
            schema += (
                ", doc_length long, terms array<struct<term:string,"
                f"score:{'double' if dtype is np.float64 else 'float'},tf:bigint>>"
            )
        if not terms:
            return self._empty(schema)
        conj = mode == "conjunctive"
        self._plan_jobs = 0
        # one metadata read yields lexicon stats AND the WAND plan; the
        # separate lexicon lookup only runs on the fallback path
        cr = self._term_meta(terms)
        lex = cr.lex if cr is not None else self.lexicon_lookup(terms)
        present = sorted(lex)
        if not present:
            return self._empty(schema)
        self.last_plan_stats = {
            "chunks_total": sum(lex[t]["n_chunks"] for t in present),
            "pruner": "none",
        }

        if cr is not None and conj and len(present) > 1:
            # posting-level nextGEQ refinement: with a rare pivot term,
            # its doc ids (bounded) let the final job decode only chunks
            # that CONTAIN a candidate — finer than any score-bound or
            # interval granularity
            pivot = min(present, key=lambda t: (lex[t]["df"], t))
            if lex[pivot]["df"] <= PIVOT_DOC_CAP:
                out = self._conjunctive_pivot(
                    present, lex, cr, pivot, k, explain, dtype, schema
                )
                self.last_plan_stats["driver_jobs"] = self._plan_jobs + 1
                return out

        if cr is not None:
            metas = cr.metas
            seg_lo, seg_hi, bound, cover = wand.sweep_segments(
                metas, conj and len(present) > 1
            )
            self.last_plan_stats.update(
                {"pruner": "block_max_wand", "segments": len(seg_lo)}
            )
            if len(seg_lo) == 0:
                return self._empty(schema)
            order = np.argsort(-bound, kind="stable")
            # phase 1: enough top-bound segments to (heuristically)
            # cover >= 4k candidate docs
            est = np.zeros(len(seg_lo), dtype=np.int64)
            for j, t in enumerate(present):
                cj = cover[:, j]
                nn = np.where(cj >= 0, metas[t].n[np.clip(cj, 0, None)], 0)
                est = np.minimum(est, nn) if conj and j else (
                    nn if conj else est + nn
                )
            cum = np.cumsum(est[order])
            n_p1 = int(np.searchsorted(cum, 4 * k) + 1)
            # breadth matters more than depth for theta quality: the
            # k-th best score should come from k DIFFERENT high-bound
            # segments, not one segment's low-scoring tail
            n_p1 = min(max(n_p1, 16), len(order))
            theta = None
            # metadata-only threshold (gated: disjunctive semantics,
            # all-nonnegative idf — see _meta_theta); when its bound
            # distribution separates cleanly, the phase-1 probe is
            # skipped entirely
            theta0 = None
            # _meta_theta's validity rests on chunk bounds being
            # ATTAINED — a tombstoned doc may be the attainer, so the
            # fast path is off while deletes exist (decode-probe thetas
            # remain valid: the probe masks deleted ids)
            if (
                (not conj or len(present) == 1)
                and not self.has_deletes
                # rescaled override bounds are no longer attained
                and not self.has_stats_override
                # an excluded doc may be the bound's attainer: a
                # metadata-only theta could then exceed the surviving
                # k-th best and prune surviving docs' segments
                and self._exclude_df is None
                and all(
                    wand.idf(lex[t]["df"], self.n_docs) >= 0
                    for t in present
                )
            ):
                theta0 = self._meta_theta(present, metas, k)
            run_p1 = n_p1 < len(order)
            if theta0 is not None:
                self.last_plan_stats["theta0"] = theta0
                keep0 = int((bound >= theta0).sum())
                # "separates cleanly": the metadata threshold already
                # keeps no more segments than phase 1 would decode
                # anyway — a decode probe cannot pay for itself
                if keep0 <= max(n_p1, 16):
                    run_p1 = False
                    theta = theta0
            if run_p1:
                p1 = order[:n_p1]
                lo, hi = wand.merge_intervals(seg_lo[p1], seg_hi[p1])
                theta = self._probe_theta(
                    present, lex, sorted(cr.cover_keys(present, cover[p1])),
                    lo, hi, mode, k, dtype,
                )
                if theta0 is not None:
                    theta = theta0 if theta is None else max(theta, theta0)
            if theta is not None:
                keep = bound >= theta
                self.last_plan_stats["theta"] = theta
            else:
                keep = np.ones(len(seg_lo), dtype=bool)
            self.last_plan_stats["segments_kept"] = int(keep.sum())
            out = self._segments_job(
                present, lex, cr,
                seg_lo[keep], seg_hi[keep], cover[keep],
                mode, k, explain=explain, dtype=dtype,
            )
            # Spark actions this query issues: planning + the final job
            self.last_plan_stats["driver_jobs"] = self._plan_jobs + 1
            return out

        # above the planning cap with bound metadata present: run the
        # sweep distributed — score-bounded skipping must not turn off
        # for exactly the queries that need it most (a stop word at
        # 10^12 docs owns ~10^8 chunks)
        if BANDED_PLANNER and "max_ratio" in self._stage_df("chunks").columns:
            return self._spark_banded(
                present, lex, mode, k, explain, dtype, schema
            )

        # fallback: no bound metadata (legacy index) — doc-id interval
        # pruning only (nextGEQ analogue)
        chunks = self._chunks(present)
        self.last_plan_stats["pruner"] = "intervals"
        if conj and len(present) > 1:
            lo = max(e["min_doc_id"] for e in lex.values())
            hi = min(e["max_doc_id"] for e in lex.values())
            if lo > hi:
                return self._empty(schema)
            chunks = chunks.where(
                (F.col("last_doc_id") >= lo) & (F.col("first_doc_id") <= hi)
            )
            pivot = min(present, key=lambda t: lex[t]["df"])
            if lex[pivot]["n_chunks"] <= 4096:
                ivals = (
                    chunks.where(F.col("term") == pivot)
                    .select(
                        F.col("first_doc_id").alias("lo"),
                        F.col("last_doc_id").alias("hi"),
                    )
                    .collect()
                )
                if not ivals:
                    return self._empty(schema)
                ivals_df = F.broadcast(
                    self.spark.createDataFrame(
                        [(r["lo"], r["hi"]) for r in ivals], "lo long, hi long"
                    )
                )
                others = chunks.where(F.col("term") != pivot).join(
                    ivals_df,
                    (F.col("last_doc_id") >= F.col("lo"))
                    & (F.col("first_doc_id") <= F.col("hi")),
                    "leftsemi",
                )
                chunks = chunks.where(F.col("term") == pivot).unionByName(others)

        scored = self._scored_postings(
            chunks, lex, with_dl=explain, dtype=dtype
        )
        return self._agg_topk(scored, mode, len(present), k, explain, dtype)

    def search_not(
        self,
        query: str,
        exclude: str,
        mode: str = "disjunctive",
        k: int = 10,
        explain: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        """Boolean NOT: top-k for ``query`` (either mode) restricted to
        docs containing NONE of the ``exclude`` terms — the standard
        ``(a OR b) AND NOT c`` boolean clause the reference engine
        lacks.

        Plan: the excluded terms' postings decode once (the inherent
        cost of a NOT — bounded by their total df, a bucket-pruned
        point access like any other term fetch) into a distinct-doc_id
        frame, then the POSITIVE terms run through the ordinary
        block-max-WAND machinery with that frame anti-joined at the
        single aggregation convergence point (_agg_topk). Pruning
        thresholds stay safe because every theta is derived from
        already-excluded rankings; the two attained-bound shortcuts
        that are NOT (metadata-only theta, the driver-local probe)
        disable themselves while an exclusion is active. Scores are
        unchanged for surviving docs: BM25 over the positive terms
        only, rank order identical to filtering the exhaustive
        ranking. Unindexed excluded terms drop out (nothing to
        exclude), mirroring the openList skip on the positive side.
        """
        neg = [t for t in tokenize_query(exclude) if t]
        lex_neg = self.lexicon_lookup(neg)
        neg_present = sorted(lex_neg)
        if not neg_present:
            return self.search(query, mode, k, explain, dtype)
        # persist + count materializes the excluded doc set ONCE — the
        # lazy frame is referenced by the phase-1 theta probe AND the
        # returned plan, which would otherwise re-decode the excluded
        # postings on every action (2-3x for a high-df exclude).
        # persist (not localCheckpoint) keeps lineage, so releasing
        # the blocks later is always safe; the engine holds exactly
        # one NOT frame at a time (previous released below) instead of
        # leaking one checkpointed RDD per NOT query for the life of
        # a serving session
        neg_ids = (
            self._scored_postings(self._chunks(neg_present), lex_neg)
            .select("doc_id")
            .distinct()
            .persist()
        )
        neg_ids.count()
        if self._not_cached is not None:
            self._not_cached.unpersist()
        self._not_cached = neg_ids
        self._exclude_df = neg_ids
        try:
            return self.search(query, mode, k, explain, dtype)
        finally:
            self._exclude_df = None

    def batch_search(
        self,
        queries: list[tuple[int, str]],
        mode: str = "disjunctive",
        k: int = 10,
        prune: bool = True,
        prune_floor: int | None = None,
        dtype=np.float32,
    ) -> DataFrame:
        """Score MANY queries in one Spark job.

        Distinct terms are decoded/scored once, then a broadcast
        (query_id, term) map fans scored postings out to queries; per-query
        top-k via a window rank. Returns (query_id, doc_id, score, rank).

        WAND pruning composes with the shared decode: per-query segment
        sweeps run driver-side on one metadata collect, ONE shared
        phase-1 job yields every query's score threshold, and the UNION
        of surviving chunk keys leftsemi-prunes the decode (a chunk is
        decoded iff at least one query still needs it — per-query
        thresholds therefore never prune another query's chunks, they
        only stop paying for chunks NO query needs). Safe by the same
        partial-score argument as ``_spark_banded`` phase 2.

        The phase-1 threshold probe is one extra Spark job (fixed
        seconds); below ``prune_floor`` total chunks (default
        ``BATCH_PRUNE_FLOOR``) decoding everything is cheaper than
        probing, so only the free driver-side pruning (conjunctive
        segment coverage) applies. At web scale the floor is noise.
        """
        from pyspark.sql import Window

        self._batch_thetas: dict[int, float] = {}
        qterms: list[tuple[int, str]] = []
        for qid, text in queries:
            for t in tokenize_query(text):
                qterms.append((qid, t))
        all_terms = sorted({t for _, t in qterms})
        schema = "query_id int, doc_id long, score float, rank int"
        self._plan_jobs = 0
        cr = self._term_meta(all_terms) if prune and all_terms else None
        lex = cr.lex if cr is not None else self.lexicon_lookup(all_terms)
        present = sorted(lex)
        if not present:
            return self._empty(schema)
        qt = [(qid, t) for qid, t in qterms if t in lex]
        nq = {}
        for qid, _t in qt:
            nq[qid] = nq.get(qid, 0) + 1
        qt_df = F.broadcast(
            self.spark.createDataFrame(qt, "query_id int, term string")
        )
        nq_df = F.broadcast(
            self.spark.createDataFrame(
                list(nq.items()), "query_id int, n_terms int"
            )
        )
        self.last_plan_stats = {
            "chunks_total": sum(lex[t]["n_chunks"] for t in present),
            "pruner": "none",
        }
        chunks = self._chunks(present)
        conj = mode == "conjunctive"
        keys_df = None
        if cr is not None:
            floor = BATCH_PRUNE_FLOOR if prune_floor is None else prune_floor
            keys_df = self._batch_plan(
                qt, cr, lex, conj, k, qt_df, nq_df, floor, dtype
            )
        elif prune and BANDED_PLANNER and "max_ratio" in chunks.columns:
            # above METADATA_CAP: the distributed banded batch planner —
            # score-bounded skipping must not silently turn off for
            # exactly the batches that need it most
            keys_df = self._batch_banded(
                qt, lex, conj, k, qt_df, nq_df, nq, dtype
            )
        if keys_df is EMPTY_BATCH:
            return self._empty(schema)
        if keys_df is not None:
            chunks = self._apply_keys(chunks, keys_df)
        scored = self._scored_postings(chunks, lex, dtype=dtype)
        per_q = (
            scored.join(qt_df, "term")
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum("score")
                .cast("float" if dtype == np.float32 else "double")
                .alias("score"),
                F.count("*").alias("_nt"),
            )
        )
        if mode == "conjunctive":
            per_q = per_q.join(nq_df, "query_id").where(
                F.col("_nt") == F.col("n_terms")
            ).drop("n_terms")
        if self._batch_thetas:
            # phase-1 thetas are exact kth-best lower bounds per query
            # (>= k docs were proven to reach them), so any doc whose
            # FINAL aggregated score falls below theta can't make
            # top-k: filter before the per-query rank window — the
            # window's sort input shrinks from every scored doc to the
            # theta-beating candidates, which is what keeps the final
            # exchange k-ish-sized instead of corpus-sized at scale.
            # The margin absorbs float32 sum-order nondeterminism
            # between the phase-1 and final aggregations (same
            # treatment as segment-bound pruning, wand.BOUND_MARGIN).
            th_rows = [
                (qid, th - wand.BOUND_MARGIN * abs(th) - 1e-9)
                for qid, th in self._batch_thetas.items()
            ]
            th_df = F.broadcast(
                self.spark.createDataFrame(
                    th_rows, "query_id int, _theta double"
                )
            )
            per_q = per_q.join(th_df, "query_id", "left").where(
                F.col("_theta").isNull()
                | (F.col("score") >= F.col("_theta"))
            ).drop("_theta")
            self.last_plan_stats["theta_filter"] = len(th_rows)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            per_q.drop("_nt")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    def _batch_plan(
        self,
        qt: list[tuple[int, str]],
        cr: segment.ChunkRows,
        lex: dict[str, dict],
        conj: bool,
        k: int,
        qt_df: DataFrame,
        nq_df: DataFrame,
        floor: int = 0,
        dtype=np.float32,
    ) -> DataFrame | None:
        """Per-query block-max WAND plans over the shared decode.

        Driver-side (numpy, on the already-collected metadata): one
        segment sweep per query. Queries whose sweep is large enough to
        bound get a phase-1 probe; ALL probes share ONE decode job —
        union of top-bound-segment chunk keys, scored once, masked per
        query to its own segment intervals (mask => exact scores, so
        each k-th-best is a true theta lower bound even with
        negative-idf terms). Kept chunks per query = segments with
        bound >= theta_q; returns the broadcast union of kept keys.

        Safety of the final (unmasked) job mirrors _spark_banded phase
        2: a doc in a segment pruned for query q aggregates, for q, a
        partial sum bounded by the segment's (margin-inflated) bound
        < theta_q — it can never displace the k docs phase 1 proved.
        Conjunctive: a doc passing the n_terms filter has every term
        decoded, hence an EXACT score (per-term postings of one doc
        live in exactly one chunk), so kept-segment docs are scored
        exactly and pruned-segment survivors stay below theta.
        """
        from pyspark.sql import Window

        by_q: dict[int, list[str]] = {}
        for qid, t in qt:
            by_q.setdefault(qid, []).append(t)
        thresholdable = self.last_plan_stats["chunks_total"] >= floor

        plans: dict[int, tuple] = {}  # qid -> (tq, bound, cover)
        kept_keys: set[tuple] = set()
        p1_keys: set[tuple] = set()
        p1_ivals: list[tuple[int, int, int]] = []
        for qid, terms_q in by_q.items():
            tq = sorted(set(terms_q))
            conj_q = conj and len(tq) > 1
            sub = {t: cr.metas[t] for t in tq}
            seg_lo, seg_hi, bound, cover = wand.sweep_segments(sub, conj_q)
            if len(seg_lo) == 0:
                continue  # provably no (conjunctive) results
            order = np.argsort(-bound, kind="stable")
            est = np.zeros(len(seg_lo), dtype=np.int64)
            for j, t in enumerate(tq):
                cj = cover[:, j]
                nn = np.where(cj >= 0, sub[t].n[np.clip(cj, 0, None)], 0)
                est = (
                    np.minimum(est, nn)
                    if conj_q and j
                    else (nn if conj_q else est + nn)
                )
            cum = np.cumsum(est[order])
            n_p1 = int(np.searchsorted(cum, 4 * k) + 1)
            n_p1 = min(max(n_p1, 16), len(order))
            if not thresholdable or n_p1 >= len(order):
                # too few segments for a threshold to pay — keep all
                # (for conjunctive, coverage pruning already applied)
                kept_keys |= cr.cover_keys(tq, cover)
                continue
            p1 = order[:n_p1]
            plans[qid] = (tq, bound, cover)
            p1_keys |= cr.cover_keys(tq, cover[p1])
            lo, hi = wand.merge_intervals(seg_lo[p1], seg_hi[p1])
            p1_ivals += [
                (qid, int(a), int(b)) for a, b in zip(lo.tolist(), hi.tolist())
            ]

        total = self.last_plan_stats["chunks_total"]
        if not plans:
            if not kept_keys:
                return EMPTY_BATCH
            if len(kept_keys) >= total:
                return None
            self.last_plan_stats.update(
                {"pruner": "batch_wand", "chunks_kept": len(kept_keys)}
            )
            return self._keys_result(sorted(kept_keys))

        # ONE shared phase-1 decode for every thresholdable query
        thetas = self._batch_theta(
            sorted(p1_keys), p1_ivals, lex, conj, k, qt_df, nq_df, dtype,
            by_q={qid: p[0] for qid, p in plans.items()},
        )
        self._batch_thetas = thetas
        for qid, (tq, bound, cover) in plans.items():
            th = thetas.get(qid)
            rows = cover if th is None else cover[bound >= th]
            kept_keys |= cr.cover_keys(tq, rows)
        self.last_plan_stats.update(
            {
                "pruner": "batch_wand",
                "chunks_kept": len(kept_keys),
                "thetas": len(thetas),
            }
        )
        if not kept_keys:
            return EMPTY_BATCH
        if len(kept_keys) >= total:
            return None
        return self._keys_result(sorted(kept_keys))

    def _batch_theta(
        self,
        p1_keys: list[tuple],
        p1_ivals: list[tuple[int, int, int]],
        lex: dict[str, dict],
        conj: bool,
        k: int,
        qt_df: DataFrame,
        nq_df: DataFrame,
        dtype=np.float32,
        by_q: dict[int, list[str]] | None = None,
    ) -> dict[int, float]:
        """The shared phase-1 threshold job: decode exactly ``p1_keys``,
        mask each query's postings to its own probe intervals (mask =>
        exact scores, so each k-th best is a true theta lower bound),
        and return {query_id: k-th best score} for every query that
        produced >= k masked results.

        The probe set is planner-bounded, so when the layout permits a
        driver point read the probe skips Spark entirely
        (:meth:`_theta_local`); the distributed job remains the path
        for Iceberg layouts and above-cap tombstone sets."""
        from pyspark.sql import Window

        if by_q is not None and self._theta_local_ok(len(p1_keys)):
            return self._theta_local(
                p1_keys, p1_ivals, lex, conj, k, by_q, dtype
            )
        self.last_plan_stats["theta_probe"] = "spark"
        self._plan_jobs += 1

        p1_terms = sorted({t for t, _s, _c in p1_keys})
        kept1 = self._apply_keys(self._chunks(p1_terms), p1_keys)
        iv = F.broadcast(
            self.spark.createDataFrame(
                p1_ivals, "query_id int, lo long, hi long"
            )
        ).alias("v")
        scored1 = self._scored_postings(kept1, lex, dtype=dtype)
        s = scored1.join(qt_df, "term").alias("s")
        masked = s.join(
            iv,
            (F.col("s.query_id") == F.col("v.query_id"))
            & (F.col("s.doc_id") >= F.col("v.lo"))
            & (F.col("s.doc_id") < F.col("v.hi")),
            "leftsemi",
        )
        agg1 = masked.groupBy("query_id", "doc_id").agg(
            F.sum("score").alias("score"), F.count("*").alias("_nt")
        )
        if conj:
            agg1 = agg1.join(nq_df, "query_id").where(
                F.col("_nt") == F.col("n_terms")
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        kth = (
            agg1.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") == k)
            .select("query_id", "score")
            .collect()
        )
        return {r["query_id"]: float(r["score"]) for r in kth}

    def _batch_banded(
        self,
        qt: list[tuple[int, str]],
        lex: dict[str, dict],
        conj: bool,
        k: int,
        qt_df: DataFrame,
        nq_df: DataFrame,
        nq: dict[int, int],
        dtype=np.float32,
    ) -> DataFrame | None:
        """Distributed WAND planning for batches ABOVE ``METADATA_CAP``
        — the batch twin of ``_banded_segments``/``_spark_banded``.

        Without this, a web-scale batch (whose terms own more chunk
        rows than the driver may collect) would silently decode every
        chunk. Instead: chunk metadata joins the broadcast (query_id,
        term) map, doc-id bands bin the intervals, and ONE
        applyInPandas job runs the per-(query, band) segment sweep —
        segments stay distributed. Per query, the top-bound segments
        (bounded collect: <= 64 x |batch| rows) drive the same shared
        phase-1 theta job as the under-cap batch planner
        (``_batch_theta``); segments with bound >= their query's theta
        survive, and the DISTINCT union of surviving chunk keys
        leftsemi-prunes the shared decode. Safety per query mirrors
        ``_spark_banded`` phase 2 / ``_batch_plan``.
        """
        from pyspark.sql import Window

        present = sorted(lex)
        gmin = min(lex[t]["min_doc_id"] for t in present)
        gmax = max(lex[t]["max_doc_id"] for t in present)
        total_chunks = self.last_plan_stats["chunks_total"]
        n_bands = min(
            max(total_chunks // BAND_TARGET_CHUNKS, N_BANDS_MIN), N_BANDS_MAX
        )
        width = max(1, -(-(gmax - gmin + 1) // n_bands))
        meta = self._bound_meta(present, lex)
        band = F.explode(
            F.sequence(
                F.floor((F.col("first_doc_id") - gmin) / width),
                F.floor((F.col("last_doc_id") - gmin) / width),
            )
        ).alias("band")
        banded = meta.join(qt_df, "term").select("*", band)
        nq_map = dict(nq)
        conj_flag = conj

        def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int32"),
                    "seg_lo": pd.Series(dtype="int64"),
                    "seg_hi": pd.Series(dtype="int64"),
                    "bound": pd.Series(dtype="float64"),
                    "est": pd.Series(dtype="int64"),
                    "loc_r": pd.Series(dtype="int32"),
                    "term": pd.Series(dtype="object"),
                    "salt": pd.Series(dtype="int32"),
                    "chunk_seq": pd.Series(dtype="int32"),
                }
            )
            qid = int(pdf["query_id"].iloc[0])
            b = int(pdf["band"].iloc[0])
            blo = gmin + b * width
            bhi = blo + width  # exclusive
            metas: dict[str, wand.TermChunks] = {}
            for t, g in pdf.groupby("term"):
                metas[t] = wand.TermChunks(
                    first=np.maximum(g["first_doc_id"].to_numpy(), blo),
                    last=np.minimum(g["last_doc_id"].to_numpy(), bhi - 1),
                    n=g["n"].to_numpy(),
                    bound=g["bound"].to_numpy(),
                    rows=np.stack(
                        [g["salt"].to_numpy(), g["chunk_seq"].to_numpy()],
                        axis=1,
                    ),
                )
            conj_q = conj_flag and nq_map.get(qid, 1) > 1
            if conj_q and len(metas) < nq_map[qid]:
                return empty
            terms_sorted = sorted(metas)
            seg_lo, seg_hi, bound, cover = wand.sweep_segments(metas, conj_q)
            if len(seg_lo) == 0:
                return empty
            est = np.zeros(len(seg_lo), dtype=np.int64)
            for j, t in enumerate(terms_sorted):
                cj = cover[:, j]
                nn = np.where(cj >= 0, metas[t].n[np.clip(cj, 0, None)], 0)
                est = (
                    np.minimum(est, nn)
                    if conj_q and j
                    else (nn if conj_q else est + nn)
                )
            # band-local rank of each segment by (bound desc, seg_lo
            # asc) — sweep_segments emits seg_lo ascending, so a stable
            # argsort on -bound breaks ties exactly like the global
            # top-segment window. The global top-64 per query is a
            # subset of the per-(query, band) top-64 (a rank can only
            # shrink within a subset), so the collect below filters on
            # loc_r FIRST: its shuffle input drops from every
            # (segment x term) row the sweep emits (~O(chunks) at web
            # scale) to <= 64 x terms x bands rows.
            order = np.argsort(-bound, kind="stable")
            loc_r = np.empty(len(order), dtype=np.int32)
            loc_r[order] = np.arange(1, len(order) + 1, dtype=np.int32)
            # one concatenated frame (numpy concats + a single
            # DataFrame build) — per-term DataFrame + pd.concat paid
            # ~1 ms/group of pure construction overhead across the
            # tens of thousands of groups a web-scale batch sweeps
            lo_c, hi_c, bd_c, est_c, lr_c, term_c, salt_c, seq_c = (
                [], [], [], [], [], [], [], []
            )
            for j, t in enumerate(terms_sorted):
                cj = cover[:, j]
                sel = cj >= 0
                if not sel.any():
                    continue
                rows = metas[t].rows[cj[sel]]
                n_sel = int(sel.sum())
                lo_c.append(seg_lo[sel])
                hi_c.append(seg_hi[sel])
                bd_c.append(bound[sel])
                est_c.append(est[sel])
                lr_c.append(loc_r[sel])
                term_c.append(np.full(n_sel, t, dtype=object))
                salt_c.append(rows[:, 0].astype(np.int32))
                seq_c.append(rows[:, 1].astype(np.int32))
            if not lo_c:
                return empty
            return pd.DataFrame(
                {
                    "query_id": qid,
                    "seg_lo": np.concatenate(lo_c),
                    "seg_hi": np.concatenate(hi_c),
                    "bound": np.concatenate(bd_c),
                    "est": np.concatenate(est_c),
                    "loc_r": np.concatenate(lr_c),
                    "term": np.concatenate(term_c),
                    "salt": np.concatenate(salt_c),
                    "chunk_seq": np.concatenate(seq_c),
                }
            )

        schema = (
            "query_id int, seg_lo long, seg_hi long, bound double, "
            "est long, loc_r int, term string, salt int, chunk_seq int"
        )
        import time as _time

        _dbg = os.environ.get("SE_PLAN_DEBUG") == "1"
        _t0 = _time.time()
        segs = (
            banded.groupBy("query_id", "band")
            .applyInPandas(sweep, schema)
            .persist()
        )
        try:
            w = Window.partitionBy("query_id").orderBy(
                F.desc("bound"), F.asc("seg_lo")
            )
            # one collect: per-query top segments WITH covering chunk
            # keys (same job-fold as _spark_banded — the round-3 shape
            # paid a second cache-scan job for the chosen keys). The
            # loc_r pre-filter (see sweep) keeps the groupBy + window
            # shuffle bounded by 64 x terms x bands rows, independent
            # of total chunk count.
            top_rows = (
                segs.where(F.col("loc_r") <= 64)
                .groupBy("query_id", "seg_lo", "seg_hi", "bound", "est")
                .agg(
                    F.collect_set(
                        F.struct("term", "salt", "chunk_seq")
                    ).alias("_ks")
                )
                .withColumn("_r", F.row_number().over(w))
                .where(F.col("_r") <= 64)
                .collect()
            )
            if _dbg:
                print(
                    f"[plan] sweep+top: {_time.time()-_t0:.2f}s",
                    file=sys.stderr,
                )
                _t0 = _time.time()
            if not top_rows:
                return EMPTY_BATCH
            self.last_plan_stats.update(
                {"pruner": "batch_banded_wand", "bands": True}
            )
            by_qid: dict[int, list] = {}
            for r in top_rows:
                by_qid.setdefault(r["query_id"], []).append(r)
            p1: dict[int, list] = {}
            for qid, rows in by_qid.items():
                rows.sort(key=lambda r: r["_r"])
                est = np.array([r["est"] for r in rows], dtype=np.int64)
                cum = np.cumsum(est)
                n_p1 = int(np.searchsorted(cum, 4 * k) + 1)
                n_p1 = min(max(n_p1, 16), len(rows))
                # same pay-off rule as _spark_banded: 64 collected means
                # more segments likely exist beyond the prefix
                if n_p1 < len(rows) or len(rows) == 64:
                    p1[qid] = rows[:n_p1]
            thetas: dict[int, float] = {}
            if p1:
                p1_keys = sorted(
                    {
                        (s["term"], int(s["salt"]), int(s["chunk_seq"]))
                        for rows in p1.values()
                        for r in rows
                        for s in r["_ks"]
                    }
                )
                p1_ivals: list[tuple[int, int, int]] = []
                for qid, rows in p1.items():
                    lo, hi = wand.merge_intervals(
                        np.array([r["seg_lo"] for r in rows], dtype=np.int64),
                        np.array([r["seg_hi"] for r in rows], dtype=np.int64),
                    )
                    p1_ivals += [
                        (qid, int(a), int(b))
                        for a, b in zip(lo.tolist(), hi.tolist())
                    ]
                tq_by_q: dict[int, list[str]] = {}
                for qid, t in qt:
                    tq_by_q.setdefault(qid, []).append(t)
                thetas = self._batch_theta(
                    p1_keys, p1_ivals, lex, conj, k, qt_df, nq_df, dtype,
                    by_q={q: sorted(set(ts)) for q, ts in tq_by_q.items()},
                )
                self._batch_thetas = thetas
            if _dbg:
                print(
                    f"[plan] theta ({len(p1_keys) if p1 else 0} keys): "
                    f"{_time.time()-_t0:.2f}s",
                    file=sys.stderr,
                )
                _t0 = _time.time()
            kept = segs
            if thetas:
                th_df = F.broadcast(
                    self.spark.createDataFrame(
                        list(thetas.items()), "query_id int, theta double"
                    )
                )
                survives = F.col("theta").isNull() | (
                    F.col("bound") >= F.col("theta")
                )
                joined = segs.join(th_df, "query_id", "left")
                kept = joined.where(survives)
                self.last_plan_stats["thetas"] = len(thetas)
                if not conj:
                    # disjunctive-only short-circuit: every chunk covers
                    # its own elementary segment, so if NO segment fell
                    # below its query's theta the distinct below would
                    # provably return every chunk key — skip the
                    # distinct + checkpoint + count over the full
                    # surviving set (the worst case: a corpus whose
                    # top docs appear in every chunk, where planning
                    # must cost as little as possible because it prunes
                    # nothing). One narrow agg over the persisted segs
                    # decides. Conjunctive can't take this exit: its
                    # sweep already excluded non-candidate chunks, so
                    # "no segment dropped" still prunes vs chunks_total.
                    c = joined.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.count(F.when(survives, 1)).alias("nk"),
                    ).collect()[0]
                    if _dbg:
                        print(
                            f"[plan] survive-agg ({c['nk']}/{c['n']}): "
                            f"{_time.time()-_t0:.2f}s",
                            file=sys.stderr,
                        )
                        _t0 = _time.time()
                    if c["nk"] == c["n"]:
                        self.last_plan_stats["chunks_kept"] = total_chunks
                        return None
            elif not conj:
                # no thetas and disjunctive: nothing can have been
                # pruned (see above) — decode everything, skip the
                # distinct entirely
                self.last_plan_stats["chunks_kept"] = total_chunks
                return None
            keys_df = (
                kept.select("term", "salt", "chunk_seq")
                .distinct()
                .localCheckpoint(eager=True)
            )
            n_keys = keys_df.count()
            if _dbg:
                print(
                    f"[plan] distinct ({n_keys} keys): "
                    f"{_time.time()-_t0:.2f}s",
                    file=sys.stderr,
                )
            self.last_plan_stats["chunks_kept"] = n_keys
            if n_keys == 0:
                return EMPTY_BATCH
            if n_keys >= total_chunks:
                return None
            # checkpointed + counted already: a <=cap-row collect is
            # cheap and turns the decode into pushdown point reads
            return self._resolve_keys(keys_df, n_keys)
        finally:
            segs.unpersist()

    # ------------------------------------------------- driver-local path

    def _theta_local_ok(self, n_keys: int) -> bool:
        """The driver-local theta probe applies on the parquet layout
        while every tombstone fits the reader's mask and no NOT clause
        is active (the spark probe routes through _agg_topk, where the
        exclusion applies), for a point-read sized probe set."""
        return (
            LOCAL_THETA
            and n_keys <= KEYS_COLLECT_CAP
            and self._reader is not None
            and self._deleted_df is None
            and self._exclude_df is None
        )

    def _theta_local(
        self,
        p1_keys: list[tuple],
        p1_ivals: list[tuple[int, int, int]],
        lex: dict[str, dict],
        conj: bool,
        k: int,
        by_q: dict[int, list[str]],
        dtype=np.float32,
    ) -> dict[int, float]:
        """Driver-side twin of :meth:`_batch_theta`: decode exactly
        ``p1_keys`` via a pyarrow point read, mask each query's postings
        to its own probe intervals, and return {query_id: k-th best
        masked score}.
        Scoring mirrors the distributed job (per-posting
        ``bm25_scores`` in ``dtype``, float64 doc sums in canonical
        sorted-term order); theta consumers already shave a
        ``BOUND_MARGIN`` relative slack, which absorbs sum-order
        noise between this and the final aggregation the same way it
        does between two Spark jobs. Validity does not depend on the
        probe seeing every posting of a doc: masked sums are <= true
        scores, so the k-th best masked score stays a true lower
        bound of the k-th best final score."""
        self.last_plan_stats["theta_probe"] = "local"
        got = self._reader.decode_keys(p1_keys)
        if not got:
            return {}
        by_t: dict[str, list[tuple]] = {}
        for key, v in got.items():
            by_t.setdefault(key[0], []).append(v)
        per_term: dict[str, tuple] = {}
        for t, parts in by_t.items():
            ids = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            dls = np.concatenate([p[2] for p in parts])
            if len(parts) > 1:
                o = np.argsort(ids, kind="stable")
                ids, tfs, dls = ids[o], tfs[o], dls[o]
            per_term[t] = (ids, tfs, dls)
        iv_by_q: dict[int, list[tuple[int, int]]] = {}
        for qid, lo, hi in p1_ivals:
            iv_by_q.setdefault(qid, []).append((lo, hi))
        thetas: dict[int, float] = {}
        for qid, ivs in iv_by_q.items():
            tq = by_q[qid]
            # callers emit merge_intervals output in ascending order,
            # so the per-query interval list is sorted + disjoint
            mlo = np.array([a for a, _ in ivs], dtype=np.int64)
            mhi = np.array([b for _, b in ivs], dtype=np.int64)
            masked: dict[str, tuple] = {}
            for t in tq:
                if t not in per_term:
                    continue
                ids, tfs, dls = per_term[t]
                keep = wand.ids_in_intervals(ids, mlo, mhi)
                if keep.any():
                    masked[t] = (ids[keep], tfs[keep], dls[keep])
            if not masked or (conj and len(masked) < len(tq)):
                continue
            cand = np.unique(
                np.concatenate([v[0] for v in masked.values()])
            )
            total = np.zeros(len(cand), dtype=np.float64)
            nt = np.zeros(len(cand), dtype=np.int32)
            for t in sorted(masked):
                ids_t, tfs_t, dls_t = masked[t]
                s = bm25_scores(
                    tfs_t,
                    dls_t,
                    lex[t]["df"],
                    self.n_docs,
                    self.avgdl,
                    dtype=dtype,
                )
                pos = np.searchsorted(cand, ids_t)
                total[pos] += s.astype(np.float64)
                nt[pos] += 1
            if conj:
                sel = nt == len(tq)
                cand, total = cand[sel], total[sel]
            if len(cand) < k:
                continue
            order = np.lexsort((cand, -total))
            thetas[qid] = float(total[order[k - 1]])
        return thetas

    def search_local(
        self, query: str, mode: str = "disjunctive", k: int = 10
    ) -> list[tuple[int, float]]:
        """Low-latency driver-side path: pyarrow predicate-pushdown scan
        of the index parquet, then the sequential block-max WAND sweep —
        chunks are decoded lazily in descending segment-bound order and
        skipped entirely once they cannot reach the top-k threshold."""
        if self.config.get("table_format") == "iceberg":
            raise NotImplementedError(
                "the driver-local fast path reads the parquet layout "
                "directly; use search() against an Iceberg-persisted index"
            )
        if self._deleted_df is not None:
            raise NotImplementedError(
                "tombstone set exceeds the driver cap; compact the index "
                "(maintenance.compact_index) or use search()"
            )
        terms = tokenize_query(query)
        if not terms:
            return []
        # a serving engine pins its posting files (SegmentReader LRU):
        # repeated terms serve from memory, cold terms read through
        tbl = self._reader.table(terms, keep=True)
        if tbl is None or not tbl.num_rows:
            return []
        cr = segment.ChunkRows(
            tbl, self.n_docs, self._df_of, self._scale_max, self._scale_min
        )
        if not cr.has_bounds:
            return self._search_local_full(
                {c: tbl.column(c).to_pylist() for c in tbl.column_names},
                mode,
                k,
            )
        # terms missing from the index were already dropped by the scan
        # filter (reference openList skip)
        metas = cr.metas
        present = sorted(metas)
        dfs = {t: cr.lex[t]["df"] for t in present}
        conj = mode == "conjunctive" and len(present) > 1
        stats = {
            "chunks_total": cr.n_rows,
            "chunks_decoded": 0,
            "segments_total": 0,
            "segments_processed": 0,
        }
        self.last_local_stats = stats
        reader = self._reader
        n_decoded = reader.n_decoded

        def get_chunk(row: int):
            # decoded-chunk cache hit, else decode (counted)
            got = reader.chunk(cr, row)
            stats["chunks_decoded"] = reader.n_decoded - n_decoded
            return got

        if conj:
            # posting-level nextGEQ (reference DAAT semantics): decode
            # the rarest term fully, then for every other term decode
            # ONLY the chunks that contain a surviving candidate —
            # score-bound segments cannot express this granularity
            return self._local_conjunctive(
                metas, dfs, present, k, get_chunk, stats
            )

        # conjunctive multi-term queries returned above, so everything
        # below is the DISJUNCTIVE sweep — the former per-branch conj
        # handling here was unreachable
        seg_lo, seg_hi, bound, cover = wand.sweep_segments(
            metas, conjunctive=False
        )
        stats["segments_total"] = len(seg_lo)
        if len(seg_lo) == 0:
            return []

        heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap

        def score_candidates(per_term: dict):
            """(cand, total) over one candidate region, float32 sums in
            canonical sorted-term order (rank-identity with the oracle)."""
            cand = np.unique(
                np.concatenate([v[0] for v in per_term.values()])
            )
            total = np.zeros(len(cand), dtype=np.float32)
            for t in present:
                if t not in per_term:
                    continue
                ids_t, tfs_t, dls_t = per_term[t]
                pos = np.searchsorted(cand, ids_t)
                s = bm25_scores(
                    tfs_t, dls_t, dfs[t], self.n_docs, self.avgdl
                )
                total[pos] = (total[pos] + s).astype(np.float32)
            return cand, total

        def push_topk(cand, total):
            best = np.lexsort((cand, -total.astype(np.float64)))[:k]
            for i in best.tolist():
                item = (float(total[i]), -int(cand[i]))
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)

        order = np.argsort(-bound, kind="stable")
        # phase 1: sequential sweep of the top-bound segments — raises
        # the threshold fast and stops as soon as bounds fall below it
        n_p1 = min(16, len(order))
        for si in order[:n_p1].tolist():
            if len(heap) == k and bound[si] < heap[0][0]:
                break
            stats["segments_processed"] += 1
            lo, hi = int(seg_lo[si]), int(seg_hi[si])
            per_term = {}
            for j, t in enumerate(present):
                ci = cover[si, j]
                if ci < 0:
                    continue
                ids, tfs, dls = get_chunk(int(metas[t].rows[ci]))
                l = np.searchsorted(ids, lo, side="left")
                r = np.searchsorted(ids, hi, side="left")
                if l < r:
                    per_term[t] = (ids[l:r], tfs[l:r], dls[l:r])
            if not per_term:
                continue
            push_topk(*score_candidates(per_term))
        theta = heap[0][0] if len(heap) == k else -np.inf
        # phase 2: every surviving segment in ONE vectorized pass (the
        # common no-pruning query costs the same as exhaustive scoring;
        # segments are disjoint, so no doc is scored twice)
        rest = order[n_p1:]
        rest = rest[bound[rest] >= theta]
        if len(rest):
            stats["segments_processed"] += len(rest)
            mlo, mhi = wand.merge_intervals(seg_lo[rest], seg_hi[rest])
            per_term = {}
            for j, t in enumerate(present):
                cis = np.unique(cover[rest, j])
                cis = cis[cis >= 0]
                if not len(cis):
                    continue
                parts = [
                    get_chunk(int(metas[t].rows[ci])) for ci in cis.tolist()
                ]
                ids = np.concatenate([p[0] for p in parts])
                tfs = np.concatenate([p[1] for p in parts])
                dls = np.concatenate([p[2] for p in parts])
                keep = wand.ids_in_intervals(ids, mlo, mhi)
                if keep.any():
                    per_term[t] = (ids[keep], tfs[keep], dls[keep])
            if per_term:
                push_topk(*score_candidates(per_term))
        return [(-nd, s) for s, nd in sorted(heap, reverse=True)]

    def _local_conjunctive(
        self,
        metas: dict[str, wand.TermChunks],
        dfs: dict[str, int],
        present: list[str],
        k: int,
        get_chunk,
        stats: dict,
    ) -> list[tuple[int, float]]:
        """Pivot-driven conjunctive DAAT: candidates = the rarest term's
        postings; every other term (rarest first) decodes only chunks
        containing a surviving candidate, shrinking the candidate set as
        it goes. Exact evaluation — no threshold needed."""
        by_df = sorted(present, key=lambda t: (dfs[t], t))
        pivot = by_df[0]
        m = metas[pivot]
        parts = [get_chunk(int(r)) for r in m.rows.tolist()]
        cand = np.concatenate([p[0] for p in parts])
        lists: dict[str, tuple] = {
            pivot: (
                cand,
                np.concatenate([p[1] for p in parts]),
                np.concatenate([p[2] for p in parts]),
            )
        }
        for t in by_df[1:]:
            m = metas[t]
            idx = np.searchsorted(m.first, cand, side="right") - 1
            safe = np.clip(idx, 0, None)
            hit = (idx >= 0) & (m.last[safe] >= cand)
            need = np.unique(idx[hit])
            if not len(need):
                return []
            parts = [get_chunk(int(m.rows[ci])) for ci in need.tolist()]
            ids_t = np.concatenate([p[0] for p in parts])
            tfs_t = np.concatenate([p[1] for p in parts])
            dls_t = np.concatenate([p[2] for p in parts])
            lists[t] = (ids_t, tfs_t, dls_t)
            cand = np.intersect1d(cand, ids_t, assume_unique=True)
            if not len(cand):
                return []
        total = np.zeros(len(cand), dtype=np.float32)
        for t in present:  # canonical accumulation order
            ids_t, tfs_t, dls_t = lists[t]
            pos = np.searchsorted(ids_t, cand)
            s = bm25_scores(
                tfs_t[pos], dls_t[pos], dfs[t], self.n_docs, self.avgdl
            )
            total = (total + s).astype(np.float32)
        order = np.lexsort((cand, -total.astype(np.float64)))[:k]
        return [(int(cand[i]), float(total[i])) for i in order]

    def _search_local_full(self, data: dict, mode: str, k: int):
        """Exhaustive local scoring (legacy indexes without bound
        columns)."""
        rows = sorted(
            range(len(data["term"])),
            key=lambda i: (data["term"][i], data["salt"][i], data["chunk_seq"][i]),
        )
        per_term: dict[str, list] = {}
        for i in rows:
            ids, tfs = codecs.decode_chunk(data["payload"][i], data["codec"][i])
            dls = codecs.decode_lengths(data["dls"][i])
            per_term.setdefault(data["term"][i], []).append((ids, tfs, dls))
        lists = {}
        for t, parts in per_term.items():
            lists[t] = tuple(
                np.concatenate([p[j] for p in parts]) for j in range(3)
            )
        present = sorted(lists)
        # df BEFORE the tombstone mask: stale-stats semantics, matching
        # the Spark path's lexicon df (maintenance.py module doc)
        dfs = {t: self._df_of(t, len(lists[t][0])) for t in present}
        if self._deleted is not None:
            for t in present:
                ids, tfs, dls = lists[t]
                if not len(ids):
                    continue
                ids64 = ids.astype(np.int64)
                pos = np.searchsorted(self._deleted, ids64)
                safe = np.clip(pos, 0, len(self._deleted) - 1)
                keep = self._deleted[safe] != ids64
                if not keep.all():
                    lists[t] = (ids[keep], tfs[keep], dls[keep])
        if mode == "conjunctive":
            cand = lists[present[0]][0]
            for t in present[1:]:
                cand = np.intersect1d(cand, lists[t][0], assume_unique=True)
                if len(cand) == 0:
                    return []
            total = np.zeros(len(cand), dtype=np.float32)
            for t in present:
                ids, tfs, dls = lists[t]
                pos = np.searchsorted(ids, cand)
                total = (
                    total
                    + bm25_scores(
                        tfs[pos], dls[pos], dfs[t], self.n_docs, self.avgdl
                    )
                ).astype(np.float32)
            doc_ids = cand
        else:
            all_ids = np.concatenate([lists[t][0] for t in present])
            doc_ids = np.unique(all_ids)
            total = np.zeros(len(doc_ids), dtype=np.float32)
            for t in present:
                ids, tfs, dls = lists[t]
                s = bm25_scores(tfs, dls, dfs[t], self.n_docs, self.avgdl)
                pos = np.searchsorted(doc_ids, ids)
                total[pos] = (total[pos] + s).astype(np.float32)
        order = np.lexsort((doc_ids, -total.astype(np.float64)))[:k]
        return [(int(doc_ids[i]), float(total[i])) for i in order]

    # ----------------------------------------------------------- snippets

    def phrase_search(
        self, phrase: str, k: int = 10, dtype=np.float32
    ) -> DataFrame:
        """Exact-adjacency phrase query — the consumer of indexes built
        with ``store_positions=True`` (the positional member of the
        north rule's (term, docID, tf, positions) posting tuple; the
        reference engine has no phrase operator, so semantics are the
        standard IR definition: all terms adjacent, in order, in
        index-token space).

        Plan, entirely JVM expressions (no Python on the hot path):

        1. scan the bucket-partitioned ``postings`` side table pruned
           to the phrase terms' buckets + an ``IN(term)`` pushdown —
           partition pruning plus term-sorted row groups make this a
           point access, never a corpus scan;
        2. a left-semi join against the RAREST term's doc set prunes
           every other term's postings, then one ``groupBy(doc_id)``
           pivots each candidate doc's per-term (positions, tf) —
           shuffled rows are bounded by ``n_terms * df_min``, not the
           terms' total df (see _positional_candidates);
        3. adjacency is a codegen'd ``exists(p_first, p ->
           array_contains(p_j, p + j) AND ...)``, duplicate phrase
           terms sharing one array;
        4. BM25 over the DISTINCT phrase terms (idf from the lexicon,
           tf/dl from the same rows), deterministic (score desc,
           doc_id asc) top-k via TakeOrderedAndProject.

        ``dtype=np.float64`` computes end-to-end in doubles (the
        contract-oracle mode); the float32 default casts the double
        sum at output (documented deviation: no reference float32
        accumulation exists to mirror for phrases).
        """
        from .tokenizer import tokenize_text

        seq = tokenize_text(phrase)
        cand = self._positional_candidates(seq, dtype)
        if isinstance(cand, DataFrame):
            return cand  # degenerate case: empty result
        per_doc, uniq, idx, lex = cand
        if len(seq) > 1:
            first = F.col(f"_p{idx[seq[0]]}")

            def adjacent(p):
                cond = F.lit(True)
                for j, t in enumerate(seq[1:], start=1):
                    cond = cond & F.array_contains(
                        F.col(f"_p{idx[t]}"), p + F.lit(j)
                    )
                return cond

            per_doc = per_doc.where(F.exists(first, adjacent))
        return self._positional_topk(per_doc, uniq, lex, k, dtype)

    def proximity_search(
        self, query: str, window: int, k: int = 10, dtype=np.float32
    ) -> DataFrame:
        """NEAR-window query over the positional index: top-k docs that
        contain ALL distinct query terms within some window of
        ``window`` consecutive token positions (order-insensitive —
        standard proximity semantics; term multiplicity in the query is
        ignored, unlike :meth:`phrase_search`).

        Exactness: the minimal window covering one occurrence of every
        term starts AT an occurrence of one of the terms, so anchoring
        candidate windows at every stored position is exhaustive — the
        predicate is ``exists(all_positions, s -> AND_t exists(p_t,
        q -> s <= q < s + window))``, one codegen'd JVM expression over
        the same df-bounded pivot as phrase_search (postings scan stays
        a bucket-pruned point access). Scoring/top-k identical to
        phrase_search (distinct-term BM25, deterministic tiebreak).
        ``window=1`` degenerates to "single position", i.e. only
        single-term queries can match; ``window`` < 1 is an error.
        """
        from .tokenizer import tokenize_text

        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        seq = tokenize_text(query)
        cand = self._positional_candidates(seq, dtype)
        if isinstance(cand, DataFrame):
            return cand
        per_doc, uniq, idx, lex = cand
        if len(uniq) > 1:
            starts = F.flatten(
                F.array(*[F.col(f"_p{i}") for i in range(len(uniq))])
            )

            def in_window(pcol, s):
                # closure factory: the HOF lambda must stay single-arg
                return F.exists(
                    pcol, lambda q: (q >= s) & (q < s + F.lit(window))
                )

            def covered(s):
                cond = F.lit(True)
                for i in range(len(uniq)):
                    cond = cond & in_window(F.col(f"_p{i}"), s)
                return cond

            per_doc = per_doc.where(F.exists(starts, covered))
        return self._positional_topk(per_doc, uniq, lex, k, dtype)

    def ordered_window_search(
        self, query: str, window: int, k: int = 10, dtype=np.float32
    ) -> DataFrame:
        """Ordered-window query (classic IR ``#odN`` / ordered-NEAR,
        e.g. Indri's operator of that name): top-k docs containing the
        query terms IN QUERY ORDER at strictly increasing positions
        p_1 < ... < p_m with total span ``p_m - p_1 < window``. The
        third member of the positional trio — phrase_search (exact
        adjacency), proximity_search (unordered window), and this
        (ordered window); ``window = len(query terms)`` degenerates to
        the phrase semantics, ``window`` large to "in order anywhere".

        Exactness via the greedy chase: anchoring at each occurrence
        p of the FIRST term and repeatedly taking the next term's
        MINIMAL position strictly greater than the previous one
        minimizes the final position for that anchor, hence minimizes
        the span — so checking ``greedy_span < window`` over all
        anchors decides the existential predicate exactly. Duplicate
        query terms share one positions array; the strict ``>`` makes
        the chain use distinct occurrences, which is the standard
        multiplicity-respecting reading.

        The predicate is one codegen'd JVM expression over the same
        rarest-term-pruned, df_min-bounded pivot as the other two
        operators (``array_min(filter(...))`` per chain step; an empty
        filter yields NULL which propagates to a non-match, exactly
        the "no further occurrence" case). Scoring/top-k identical:
        distinct-term BM25, deterministic (score desc, doc_id asc).
        """
        from .tokenizer import tokenize_text

        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        seq = tokenize_text(query)
        cand = self._positional_candidates(seq, dtype)
        if isinstance(cand, DataFrame):
            return cand
        per_doc, uniq, idx, lex = cand
        if len(seq) > 1:
            first = F.col(f"_p{idx[seq[0]]}")

            def _after(c):
                # single-arg closure factory: a default-arg lambda
                # (lambda q, c=cur: ...) would have TWO parameters and
                # PySpark would bind the second to the ARRAY INDEX
                return lambda q: q > c

            def greedy_end(p):
                cur = p
                for t in seq[1:]:
                    cur = F.array_min(
                        F.filter(F.col(f"_p{idx[t]}"), _after(cur))
                    )
                return cur

            per_doc = per_doc.where(
                F.exists(first, lambda p: greedy_end(p) - p < F.lit(window))
            )
        return self._positional_topk(per_doc, uniq, lex, k, dtype)

    def _prefix_rows(self, prefix: str, cap: int):
        """Shared lexicon prefix scan for expand_prefix / suggest: the
        top ``cap`` matches by (df DESC, term ASC) via a pushed
        StartsWith TakeOrdered, the head rows seeding the per-engine
        lexicon cache (same raw-entry contract as lexicon_lookup).
        Seeding stops after 4096 rows: the multi-segment merge paths
        pass an uncapped ``cap`` and collect whole vocabulary slices —
        useful for their exact global merge, but churning the LRU with
        a slice no follow-up query will ever touch would evict the
        Zipf head that makes the cache pay."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        rows = (
            self._stage_df("lexicon")
            .where(F.col("term").startswith(prefix))
            .orderBy(F.col("df").desc(), F.col("term"))
            .limit(int(cap))
            .select("term", "df", "n_chunks", "min_doc_id", "max_doc_id")
            .collect()
        )
        for r in rows[:4096]:
            self._lex_cache_put(
                r["term"],
                {
                    "df": int(r["df"]),
                    "n_chunks": int(r["n_chunks"]),
                    "min_doc_id": int(r["min_doc_id"]),
                    "max_doc_id": int(r["max_doc_id"]),
                },
                overwrite=False,
            )
        return rows

    def expand_prefix(self, prefix: str, max_expansions: int = 128) -> list[str]:
        """Expand a term prefix against the lexicon: the top
        ``max_expansions`` indexed terms starting with ``prefix``,
        ranked by (df DESC, term ASC) — Lucene's multi-term rewrite
        policy (keep the highest-document-frequency expansions; the
        deterministic term tiebreak makes the truncation reproducible).

        Scale shape: ONE lexicon scan with a ``StartsWith`` pushed
        filter + TakeOrdered(max_expansions). The lexicon is
        vocab-sized (orders of magnitude below the corpus), its files
        are term-sorted within each hash bucket, so parquet row-group
        min/max stats prune ranges that cannot contain the prefix;
        hash-bucket partition pruning does not apply (a prefix spans
        buckets) and is not needed at this table's size. Returned
        entries seed the per-engine lexicon cache, so the follow-up
        search pays no second lexicon job for the expanded terms.
        """
        return [
            r["term"] for r in self._prefix_rows(prefix, max_expansions)
        ]

    def prefix_search(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 128,
        explain: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        """Wildcard/prefix query: whitespace-separated tokens ending in
        ``*`` expand via ``expand_prefix``; the union of the plain
        tokens and every expansion scores as ONE disjunctive BM25 query
        (the standard boolean rewrite of a prefix query — each
        expansion keeps its own idf). The reference engine has no
        wildcard operator, so semantics follow the classic IR
        definition; only a single trailing ``*`` is supported (mid- or
        multi-star patterns raise).

        The expansion cap bounds the follow-up query cost: the search
        runs over at most ``n_plain + n_prefix_tokens * max_expansions``
        terms through the same block-max-WAND machinery as any
        disjunctive query (banded distributed planner above the
        metadata cap), so a short prefix over a web-scale vocabulary
        stays a bounded plan instead of a vocabulary-sized one.
        """
        plain, stems = parse_wildcard_query(query)
        terms: set[str] = set(plain)
        for stem in stems:
            terms.update(self.expand_prefix(stem, max_expansions))
        # expanded terms are lexicon terms (delimiter-free), so the
        # canonical disjunctive path re-tokenizes them losslessly
        return self.search(
            " ".join(sorted(terms)),
            mode="disjunctive",
            k=k,
            explain=explain,
            dtype=dtype,
        )

    def facet_counts(
        self,
        query: str,
        mode: str = "disjunctive",
        facet: str = "host",
        top_n: int = 20,
    ) -> DataFrame:
        """Exact per-facet document counts over the query's FULL match
        set — the search-results sidebar aggregation (classic faceted
        search; the reference engine has no facet operator, semantics
        follow the standard IR definition).

        ``facet``: ``"host"`` (lower-cased url authority — the natural
        web facet) or any Spark SQL expression string over the
        doc-table columns (``doc_id``, ``url``, ``doc_length``,
        ``text``). Returns ``(facet, n_docs)``, ``top_n`` rows ordered
        n_docs DESC then facet ASC (deterministic). Missing query
        terms drop like ``search`` (openList-skip semantics); an empty
        surviving term set returns an empty frame.

        Plan — exact facets cannot WAND-prune (EVERY matching doc
        counts, not just the top-k): decode the present terms'
        postings (bucket-pruned point access, cost Σdf — the inherent
        exact-facet lower bound), reduce to the matched doc set with
        one doc_id-keyed aggregation (shuffle bounded by Σdf;
        conjunctive keeps docs covering all terms), join the
        column-pruned (doc_id, url) doc-table projection, and finish
        with a facet-cardinality-sized hash agg (partial map-side, a
        few bytes per distinct facet per task). At web scale the
        doc-table join is the dominant wide op and is the minimal
        exact plan; tombstoned docs are masked inside the decode like
        every other query path.
        """
        terms = tokenize_query(query)
        empty = self.spark.createDataFrame([], "facet string, n_docs long")
        if not terms:
            return empty
        lex = self.lexicon_lookup(terms)
        present = sorted(lex)
        if not present:
            return empty
        postings = self._scored_postings(self._chunks(present), lex)
        if mode == "conjunctive" and len(present) > 1:
            # one row per (term, doc) in a posting list, so the plain
            # count equals the distinct-term cover
            matched = (
                postings.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("_nt"))
                .where(F.col("_nt") == len(present))
                .select("doc_id")
            )
        else:
            matched = postings.select("doc_id").distinct()
        fcol = host_col() if facet == "host" else F.expr(facet)
        doc_facets = self._stage_df("doc_table").select(
            "doc_id", fcol.cast("string").alias("facet")
        )
        return (
            matched.join(doc_facets, "doc_id")
            .groupBy("facet")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("facet"))
            .limit(top_n)
        )

    def expansion_terms(
        self,
        query: str,
        k_docs: int = 10,
        top_n: int = 20,
        min_co: int = 2,
        mode: str = "disjunctive",
        dtype=np.float64,
    ) -> DataFrame:
        """Pseudo-relevance-feedback query expansion (RM/Rocchio
        lineage): candidate terms mined from the TOP-``k_docs``
        retrieved documents, scored by log co-occurrence lift
        ``ln((co_docs/k) / (df/N))`` — how much more often a term
        appears in the feedback docs than in the corpus at large.
        Returns (term, co_docs, df, score), ``top_n`` rows by (score
        DESC, term ASC); query terms themselves are excluded and
        candidates must hit ``min_co`` feedback docs.

        Plan — PRF is top-k-bounded BY DEFINITION, so every stage is a
        point access: the retrieval runs through the ordinary
        block-max-WAND machinery, the k winning docs fetch via the
        IN(doc_id) row-group-pruned lookup (fetch_docs), their texts
        tokenize driver-side with the python tokenizer twin (asserted
        byte-identical to the JVM path; k docs, not a corpus scan),
        and candidate dfs resolve through the bucket-pruned
        ``lexicon_lookup`` point access — never a full-lexicon scan.
        Driver memory is O(k · doc_len) tokens, the operator's
        inherent footprint at any corpus size.
        """
        from .tokenizer import tokenize_text

        empty = self.spark.createDataFrame(
            [], "term string, co_docs long, df long, score double"
        )
        seeds = set(tokenize_query(query))
        topk_rows = self.search(query, mode=mode, k=k_docs, dtype=dtype).collect()
        if not topk_rows:
            return empty
        k = len(topk_rows)
        small = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in topk_rows],
            "doc_id long, score double",
        )
        texts = self.fetch_docs(small).select("doc_id", "text").collect()
        co: dict[str, int] = {}
        for r in texts:
            for t in set(tokenize_text(r["text"] or "")):
                co[t] = co.get(t, 0) + 1
        cand = sorted(
            t for t, c in co.items() if c >= min_co and t not in seeds
        )
        if not cand:
            return empty
        lex = self.lexicon_lookup(cand)
        n = float(self.n_docs)
        rows = []
        for t in cand:
            e = lex.get(t)
            if e is None:
                continue
            df_t = int(self._df_of(t, e["df"]))
            score = float(np.log((co[t] / k) / (df_t / n)))
            rows.append((t, co[t], df_t, round(score, 4)))
        rows.sort(key=lambda r: (-r[3], r[0]))
        return self.spark.createDataFrame(
            rows[:top_n], "term string, co_docs long, df long, score double"
        )

    def more_like_this(
        self,
        doc_id: int,
        max_terms: int = 10,
        k: int = 10,
        mode: str = "disjunctive",
        dtype=np.float64,
    ) -> DataFrame:
        """More-like-this (Lucene MLT semantics): find the documents
        most similar to a SEED document by running its most
        characteristic terms as a query. Term selection = the seed's
        top ``max_terms`` by tf·idf (idf = the engine's own unclamped
        ln((N-df+0.5)/(df+0.5)); ties break on term ASC), then an
        ordinary top-k retrieval over them with the seed itself
        excluded from the results.

        Plan — like :meth:`expansion_terms`, every stage is a point
        access: the seed fetches via the IN(doc_id) row-group-pruned
        lookup (one doc), its terms' dfs resolve through the
        bucket-pruned ``lexicon_lookup``, and the follow-up query runs
        through the ordinary block-max-WAND machinery (banded planner
        above the metadata cap), so the whole operator is
        O(max_terms)-bounded regardless of corpus size. Returns
        (doc_id, score) like ``search``.
        """
        from .tokenizer import tokenize_text

        empty = self.spark.createDataFrame(
            [], "doc_id long, score " + (
                "double" if dtype is np.float64 else "float"
            )
        )
        seed = self.spark.createDataFrame(
            [(int(doc_id), 0.0)], "doc_id long, score double"
        )
        rows = self.fetch_docs(seed).select("text").collect()
        if not rows:
            raise KeyError(f"doc_id {doc_id} not in the doc table")
        toks = tokenize_text(rows[0]["text"] or "")
        if not toks:
            return empty
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        lex = self.lexicon_lookup(sorted(tf))
        scored = sorted(
            (
                (
                    -tf[t] * wand.idf(self._df_of(t, e["df"]), self.n_docs),
                    t,
                )
                for t, e in lex.items()
            ),
        )
        terms = [t for _, t in scored[:max_terms]]
        if not terms:
            return empty
        res = self.search(" ".join(terms), mode=mode, k=k + 1, dtype=dtype)
        return (
            res.where(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def suggest(self, prefix: str, n: int = 10) -> DataFrame:
        """Query autocomplete: the top ``n`` indexed terms starting
        with ``prefix``, ranked (df DESC, term ASC) — the suggestion
        box's data source, straight off the lexicon via the same
        pushed-StartsWith TakeOrdered scan as ``expand_prefix``
        (``_prefix_rows`` — row-group min/max pruning on the
        term-sorted files; no corpus access, and the rows seed the
        lexicon cache). Returns (term, df)."""
        rows = self._prefix_rows(prefix, n)
        return self.spark.createDataFrame(
            [(r["term"], int(r["df"])) for r in rows],
            "term string, df long",
        )

    def index_stats(self) -> DataFrame:
        """One-row observability summary of the served index —
        collection stats plus lexicon-derived aggregates: (n_docs,
        avgdl, n_terms, n_postings, n_chunks, max_df). Costs one
        lexicon-sized agg (map-side partials; the stats row is already
        pinned on the engine), never touches postings payloads or the
        corpus — the dashboard/ops query a serving fleet runs per
        segment."""
        lex = self._stage_df("lexicon").agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            # coalesce: SUM/MAX over an EMPTY lexicon (a delete-only
            # delta segment) are NULL; report 0 instead so dashboards
            # and segment_stats never trip over None
            F.coalesce(F.sum("df"), F.lit(0)).cast("long").alias(
                "n_postings"
            ),
            F.coalesce(F.sum("n_chunks"), F.lit(0)).cast("long").alias(
                "n_chunks"
            ),
            F.coalesce(F.max("df"), F.lit(0)).cast("long").alias("max_df"),
        )
        return lex.select(
            F.lit(int(self.built_n_docs)).cast("long").alias("n_docs"),
            F.round(F.lit(float(self.built_avgdl)), 4).alias("avgdl"),
            "n_terms",
            "n_postings",
            "n_chunks",
            "max_df",
        )

    def search_collapsed(
        self,
        query: str,
        mode: str = "disjunctive",
        k: int = 10,
        dtype=np.float32,
    ) -> DataFrame:
        """Host-collapsed retrieval (web-search site diversification):
        the top-k documents with AT MOST ONE result per url host —
        each host is represented by its best-scoring doc (ties break
        doc_id ASC), then hosts rank by that representative's score.
        Returns (doc_id, host, score).

        Plan — exact collapse needs the FULL ranking in the worst case
        (one host could own every top-k' prefix for any fixed k'), so
        like ``facet_counts`` this scores the whole match set instead
        of WAND-pruning: postings decode (Σdf, the exact-collapse
        lower bound), per-doc aggregation, a column-pruned (doc_id,
        url) doc-table join, then a per-host max — expressed as
        ``max_by`` aggregation rather than a window sort, so the
        per-host reduction is one partial-aggregating shuffle keyed on
        the host (hosts << docs) and never materializes a global sort.
        """
        terms = tokenize_query(query)
        out_t = "double" if dtype is np.float64 else "float"
        empty = self.spark.createDataFrame(
            [], f"doc_id long, host string, score {out_t}"
        )
        if not terms:
            return empty
        lex = self.lexicon_lookup(terms)
        present = sorted(lex)
        if not present:
            return empty
        scored = self._scored_postings(
            self._chunks(present), lex, dtype=dtype
        )
        agg = scored.groupBy("doc_id").agg(
            F.sum("score").cast(out_t).alias("score"),
            F.count(F.lit(1)).alias("_nt"),
        )
        if mode == "conjunctive" and len(present) > 1:
            agg = agg.where(F.col("_nt") == len(present))
        docs = self._stage_df("doc_table").select(
            "doc_id", host_col().alias("host")
        )
        per_host = (
            agg.drop("_nt")
            .join(docs, "doc_id")
            .groupBy("host")
            .agg(
                F.max("score").alias("score"),
                # representative: smallest doc_id among the max-score
                # docs of the host (deterministic under score ties)
                F.max_by(
                    "doc_id", F.struct(F.col("score"), -F.col("doc_id"))
                ).alias("doc_id"),
            )
        )
        return (
            per_host.select("doc_id", "host", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    @staticmethod
    def _ed_le1(a: str, b: str) -> bool:
        """Exact Levenshtein-distance<=1 check (sub/ins/del)."""
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la > lb:
            a, b, la, lb = b, a, lb, la
        i = 0
        while i < la and a[i] == b[i]:
            i += 1
        if la == lb:  # one substitution allowed
            return a[i + 1 :] == b[i + 1 :]
        return a[i:] == b[i + 1 :]  # one insertion into a

    def _fuzzy_candidates(
        self, terms: list[str], max_expansions: int
    ) -> dict[str, list[tuple[str, int]]]:
        """Batched core of the fuzzy family: ONE side-table point
        lookup over the UNION of all terms' deletion variants, then
        per-term exact-Levenshtein assignment, (df DESC, term ASC)
        ranking and capping on the driver. Returns
        {query_term: [(candidate, df), ...]}.

        Never scans the lexicon: candidate volume is bounded by the
        variants' bucket rows, and the cap bounds the follow-up query
        regardless of how popular the neighborhood is (the deliberate
        guard for the hot empty-string bucket 1-char terms share).
        dfs come from the side table (== lexicon df at build time).
        """
        if not terms:
            return {}
        for t in terms:
            if tokenize_query(t) != [t] or not t:
                raise ValueError(
                    f"fuzzy term {t!r} must be a single delimiter-free token"
                )
        fuzzy_dir = f"{self.index_dir}/fuzzy"
        import os

        if self.config.get("table_format") == "iceberg" or not os.path.isdir(
            fuzzy_dir
        ):
            raise ValueError(
                "no fuzzy side table at this index: run "
                "build.build_fuzzy_index(spark, index_dir) first"
            )
        variants: set[str] = set()
        for t in terms:
            variants.add(t)
            variants.update(t[:i] + t[i + 1 :] for i in range(len(t)))
        buckets = sorted(
            {term_bucket(v, self.bucket_count) for v in variants}
        )
        from .build import read_stage_parquet

        rows = (
            read_stage_parquet(self.spark, fuzzy_dir, "fuzzy")
            .where(
                F.col("bucket").isin(buckets)
                & F.col("variant").isin(sorted(variants))
            )
            .select("term", "df")
            .distinct()
            .collect()
        )
        cands = [(r["term"], int(r["df"])) for r in rows]
        out: dict[str, list[tuple[str, int]]] = {}
        for t in terms:
            mine = sorted(
                ((c, d) for c, d in cands if self._ed_le1(t, c)),
                key=lambda x: (-x[1], x[0]),
            )
            out[t] = mine[:max_expansions]
        return out

    def fuzzy_expand(self, term: str, max_expansions: int = 8) -> list[str]:
        """Edit-distance<=1 lexicon candidates for one query term via
        the SymSpell deletion-neighborhood side table
        (build.build_fuzzy_index): look up the term's own deletion
        variants (<= len+1 strings) with the SAME bucket-pruned
        IN(variant) point access as a lexicon lookup, then exact-filter
        to Levenshtein <= 1 driver-side (the D1-intersection admits a
        few distance-2 false positives) and cap to ``max_expansions``
        by (df DESC, term ASC) — Lucene's fuzzy rewrite policy.
        Batched twin: ``_fuzzy_candidates`` (one lookup for a whole
        query)."""
        got = self._fuzzy_candidates([term], max_expansions)
        return [c for c, _ in got[term]]

    def did_you_mean(self, query: str) -> DataFrame:
        """Spell correction ("did you mean") over the same SymSpell
        side table as ``fuzzy_expand``: for each query term, the most
        frequent (df DESC, term ASC) edit-distance<=1 lexicon term —
        the term itself when indexed (an indexed term is its own best
        correction at distance 0; the web-search convention), or the
        sentinel ('', -1) when nothing is within distance 1. Returns
        one row per deduped query term in the tokenizer's canonical
        sorted order: (pos, term, correction, df).

        TWO driver jobs regardless of query length: one batched
        lexicon lookup for the exact terms, one batched side-table
        lookup for the misses. Correction dfs come from the side
        table, so a side table stale w.r.t. a rebuilt lexicon degrades
        to stale-but-present suggestions instead of erroring."""
        terms = tokenize_query(query)
        lex = self.lexicon_lookup(terms)
        missing = [t for t in terms if t not in lex]
        fixes = self._fuzzy_candidates(missing, 1) if missing else {}
        rows = []
        for pos, raw in enumerate(terms):
            if raw in lex:
                rows.append((pos, raw, raw, int(lex[raw]["df"])))
            elif fixes.get(raw):
                cand, cdf = fixes[raw][0]
                rows.append((pos, raw, cand, cdf))
            else:
                rows.append((pos, raw, "", -1))
        return self.spark.createDataFrame(
            rows, "pos int, term string, correction string, df long"
        )

    def fuzzy_search(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 8,
        explain: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        """Typo-tolerant retrieval: every query term expands to its
        edit-distance<=1 lexicon neighborhood (df-ranked and capped
        per term, ONE batched side-table lookup for the whole query),
        and the union scores as ONE disjunctive BM25 query — the
        classic fuzzy-query rewrite (each candidate keeps its own
        idf). Terms with an empty neighborhood drop, mirroring the
        openList skip on unindexed exact terms.
        """
        got = self._fuzzy_candidates(tokenize_query(query), max_expansions)
        terms = {c for lst in got.values() for c, _ in lst}
        if not terms:
            return self.spark.createDataFrame(
                [], "doc_id long, score " + (
                    "double" if dtype is np.float64 else "float"
                )
            )
        return self.search(
            " ".join(sorted(terms)),
            mode="disjunctive",
            k=k,
            explain=explain,
            dtype=dtype,
        )

    def _positional_candidates(self, seq: list, dtype):
        """Shared front half of the positional operators: validate the
        index, prune the bucket-partitioned postings side table to the
        query terms (partition pruning + IN(term) pushdown = point
        access), and pivot to one row per candidate doc with ``_p{i}``
        (positions) / ``_tf{i}`` columns per distinct term.

        Rarest-term-first pruning: before the groupBy(doc_id) pivot,
        every term's postings are LEFT-SEMI-joined against the
        minimum-df term's doc set (a one-term bucket-pruned point
        scan). A doc missing the rarest term can never satisfy the
        all-terms-present predicate, so the semi-join is lossless —
        and it bounds the pivot's shuffle input by ``n_terms *
        df_min`` instead of ``sum(df)``. That is the difference
        between a web-scale phrase containing a stop word shuffling
        ~df("the") rows and shuffling only the selective term's df.
        The rare doc set is BROADCAST below KEYS_BROADCAST_CAP (the
        common case — real phrases almost always contain one
        selective term); above the cap it falls back to a shuffle
        semi-join on doc_id whose exchange the pivot then reuses.

        Returns an empty result DataFrame directly for degenerate
        queries (no tokens / unindexed term), else the tuple
        (per_doc, uniq, idx, lex)."""
        schema = "doc_id long, score " + (
            "double" if dtype is np.float64 else "float"
        )
        empty = self.spark.createDataFrame([], schema)
        if not seq:
            return empty
        if not self.config.get("store_positions"):
            raise ValueError(
                "phrase/proximity search needs a positional index: "
                "rebuild with IndexBuilder(..., store_positions=True)"
            )
        uniq = sorted(set(seq))
        lex = self.lexicon_lookup(uniq)
        if any(t not in lex for t in uniq):
            # a never-indexed term can't co-occur with anything
            return empty
        pos = self._stage_df("postings")
        if "bucket" in pos.columns:
            pos = pos.where(F.col("bucket").isin(self._buckets(uniq)))
        pos = pos.where(F.col("term").isin(uniq))
        if self.has_deletes:
            pos = self._alive_df(pos)
        if len(uniq) > 1:
            t_min = min(uniq, key=lambda t: lex[t]["df"])
            rare = self._stage_df("postings")
            if "bucket" in rare.columns:
                rare = rare.where(
                    F.col("bucket").isin(self._buckets([t_min]))
                )
            # no _alive_df here: `pos` is already tombstone-filtered,
            # so a deleted id in `rare` cannot resurrect a candidate —
            # filtering the rare side would only pay an extra anti-join
            # to shrink the broadcast by the deleted fraction
            rare = rare.where(F.col("term") == t_min).select("doc_id")
            if lex[t_min]["df"] <= KEYS_BROADCAST_CAP:
                rare = F.broadcast(rare)
            pos = pos.join(rare, "doc_id", "left_semi")
        idx = {t: i for i, t in enumerate(uniq)}
        # doc_length is functionally dependent on doc_id, so carry it
        # as first() instead of a grouping key: grouping on doc_id
        # alone lets the fallback (non-broadcast) semi-join's
        # hashpartitioning(doc_id) exchange be reused by the pivot —
        # one shuffle total on that path, same as the broadcast path
        aggs = [F.first("doc_length").alias("doc_length")]
        for i, t in enumerate(uniq):
            is_t = F.col("term") == t
            # exactly one (term, doc_id) row per group -> first non-null
            aggs.append(
                F.first(F.when(is_t, F.col("positions")), ignorenulls=True)
                .alias(f"_p{i}")
            )
            aggs.append(
                F.first(F.when(is_t, F.col("tf")), ignorenulls=True)
                .alias(f"_tf{i}")
            )
        per_doc = pos.groupBy("doc_id").agg(*aggs)
        all_present = F.lit(True)
        for i in range(len(uniq)):
            all_present = all_present & F.col(f"_p{i}").isNotNull()
        return per_doc.where(all_present), uniq, idx, lex

    def _positional_topk(
        self, per_doc: DataFrame, uniq: list, lex: dict, k: int, dtype
    ) -> DataFrame:
        """Shared back half: distinct-term BM25 (idf from the lexicon,
        tf/dl from the pivot) + deterministic (score desc, doc_id asc)
        top-k via TakeOrderedAndProject."""
        import math

        n_docs, avgdl = self.n_docs, self.avgdl
        dl = F.col("doc_length").cast("double")
        kfac = F.lit(float(K1)) * (
            F.lit(1.0 - float(B)) + F.lit(float(B)) * dl / F.lit(avgdl)
        )
        score = None
        for i, t in enumerate(uniq):
            df_t = lex[t]["df"]
            idf = math.log((n_docs - df_t + 0.5) / (df_t + 0.5))
            tf = F.col(f"_tf{i}").cast("double")
            s = F.lit(idf) * F.lit(float(K1) + 1.0) * tf / (kfac + tf)
            score = s if score is None else score + s
        out = per_doc.select("doc_id", score.alias("score"))
        if dtype is not np.float64:
            out = out.select(
                "doc_id", F.col("score").cast("float").alias("score")
            )
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def fetch_docs(self, topk: DataFrame) -> DataFrame:
        """Point lookup of a bounded top-k's doc-table records
        (reference B13, MongoService.cpp:27-48, studied not copied):
        the top-k set is <= k rows, so collect it and push an
        IN(doc_id) predicate into the doc_table scan BEFORE the join —
        parquet row-group stats / file-level min-max then prune the
        probe side to the handful of files that can contain those ids,
        instead of a full corpus scan to fetch k rows (the 100 TB
        scale-killer this replaces). Pruning is sharp whenever the
        doc_table layout is id-clustered, which both natural paths
        give: builder-assigned ids (assign_doc_ids range-repartitions,
        so each file holds a contiguous id range) and pre-assigned ids
        over a source written in id order; a deliberately scrambled
        layout degrades to a filtered (still correct) scan.

        Returns (doc_id, score, url, text)."""
        doc_table = self._stage_df("doc_table")
        hits = topk.select("doc_id", "score").collect()
        score_t = dict(topk.dtypes).get("score", "float")
        small = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in hits],
            schema=f"doc_id long, score {score_t}",
        )
        pruned = doc_table.where(
            F.col("doc_id").isin([int(r["doc_id"]) for r in hits])
            if hits
            else F.lit(False)
        )
        return pruned.join(F.broadcast(small), "doc_id").select(
            "doc_id", "score", "url", "text"
        )

    def snippets(
        self,
        query: str,
        topk: DataFrame,
        window: int = 100,
        max_segments: int = 5,
        parity: bool = False,
    ) -> DataFrame:
        """Join top-k docs back to the doc table and extract ±window-char
        segments around term matches, merging overlaps (reference Q11
        semantics, QueryExecution.cpp:500-549).

        ``parity=True`` reproduces the reference's print-ALL quirk
        (QueryExecution.cpp:544-548): every merged segment, in document
        order, ignoring ``max_segments``. The default — top
        ``max_segments`` by per-segment match count — is a deliberate,
        documented deviation (bounded output per doc)."""
        terms = tokenize_query(query)
        joined = self.fetch_docs(topk)

        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, StringType

        @pandas_udf(ArrayType(StringType()))
        def snip(texts: pd.Series) -> pd.Series:
            out = []
            for text in texts:
                text = text or ""
                spans = []
                for t in terms:
                    start = 0
                    while True:
                        i = text.find(t, start)
                        if i < 0:
                            break
                        spans.append((max(0, i - window), min(len(text), i + len(t) + window)))
                        start = i + len(t)
                spans.sort()
                merged: list[list] = []
                for lo, hi in spans:
                    if merged and lo <= merged[-1][1]:
                        merged[-1][1] = max(merged[-1][1], hi)
                        merged[-1][2] += 1
                    else:
                        merged.append([lo, hi, 1])
                if parity:
                    out.append([text[lo:hi] for lo, hi, _ in merged])
                else:
                    merged.sort(key=lambda m: -m[2])
                    out.append(
                        [text[lo:hi] for lo, hi, _ in merged[:max_segments]]
                    )
            return pd.Series(out)

        return joined.select(
            "doc_id", "score", "url", snip("text").alias("snippets")
        )


class MultiIndexQueryEngine:
    """Serve queries across MULTIPLE index segments with GLOBAL
    collection statistics — the Lucene multi-segment serving model.

    The use case is the write path's freshness gap: ``upsert_docs``
    tombstones the base and builds a small delta shard, but the
    map-only ``merge_indexes`` rewrite still has to run before a
    single QueryEngine can see the new docs. This engine closes the
    gap: open [base, delta1, delta2, ...] and serve immediately;
    compaction/merge becomes a background activity, exactly like
    Lucene segment merging behind an IndexSearcher.

    Statistics: N and avgdl combine doc-count-weighted across
    segments; per-term df sums across segment lexicons. All stay
    STALE w.r.t. each segment's tombstones (the same deleted-docs
    semantics as a single QueryEngine — results are masked, stats are
    not). Over tombstone-free segments the combined stats equal a
    fresh single build's, so results are rank-identical to indexing
    the union at once. Each segment scores with the global stats via
    ``QueryEngine(stats_override=...)``; chunk WAND bounds rescale
    conservatively there (see QueryEngine.__init__), so score-bounded
    skipping stays SAFE under the foreign avgdl.

    Topology: scatter-gather. Each segment answers its own top-k with
    global stats (a doc lives in exactly one segment, so per-segment
    scores are exact and conjunctive semantics hold); the driver
    merges <= n_segments*k rows. Segments carrying a ``term_bloom``
    sidecar (build.build_term_bloom) are bloom-probed driver-side
    first and skipped when they cannot contain the query's terms —
    the RocksDB/Lucene trick that keeps many-delta LSM serving cheap;
    lossless because bloom false negatives are impossible. The per-segment searches are
    INDEPENDENT Spark jobs submitted from a thread pool (Spark
    supports concurrent job submission from one driver), so serve
    latency is max-of-segments, not sum-of-segments. Under the
    default FIFO scheduler concurrent jobs still share the cluster
    fairly when each job's stage count is small; set
    ``spark.scheduler.mode=FAIR`` on a shared serving cluster so one
    fat segment cannot head-of-line-block the others' stages.

    ``offsets``: per-segment doc-id translation applied to RESULT
    ids only (scores never depend on ids). Default "stack" relocates
    each segment above the previous one's id span — the same layout
    ``merge_indexes(offsets="stack")`` would produce, so serving now
    and merging later yield the same global ids. Pass explicit
    offsets (e.g. all 0) for shards built over disjoint id ranges.
    """

    def __init__(self, spark, index_dirs: list[str], offsets="stack"):
        if not index_dirs:
            raise ValueError("MultiIndexQueryEngine needs >= 1 segment")
        self.spark = spark
        self.index_dirs = list(index_dirs)
        # open each segment ONCE and apply the global stats afterwards
        # (constructing a probe set and then a second engine set doubled
        # segment-open cost: manifest read + stats job + tombstone/bloom
        # load per segment, twice)
        engines = [QueryEngine(spark, d) for d in self.index_dirs]
        n_total = sum(e.built_n_docs for e in engines)
        if n_total > 0:
            avgdl = (
                sum(e.built_n_docs * e.built_avgdl for e in engines) / n_total
            )
        else:
            avgdl = 1.0
        self.n_docs, self.avgdl = n_total, avgdl
        if offsets == "stack":
            offs, acc = [], 0
            for e in engines:
                offs.append(acc)
                acc += e.max_doc_id + 1
        else:
            offs = list(offsets)
            if len(offs) != len(engines):
                raise ValueError("offsets must match index_dirs")
        self.offsets = offs
        for e in engines:
            e._apply_stats_override({"n_docs": n_total, "avgdl": avgdl})
        self.engines = engines
        # observability: segments actually scattered to by the last
        # search/search_local call (after term-bloom pruning — see
        # _segment_candidates; None until a query runs)
        self.last_searched_segments: int | None = None

    def close(self) -> None:
        """Release every segment engine's pinned metadata cache (see
        QueryEngine.close). A long-lived session that churns
        multi-segment engines (LSM reopen after delete/upsert) should
        close the old one, or the discarded engines' MEMORY_AND_DISK
        metadata projections stay pinned until the session ends."""
        for e in self.engines:
            e.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _pmap(self, fn, items: list) -> list:
        """Run ``fn`` over ``items`` on the scatter-gather thread pool
        (concurrent Spark job submission; latency = max-of-items).
        Empty input returns empty (no pool); single-item lists bypass
        the pool."""
        if not items:
            return []
        if len(items) == 1:
            return [fn(items[0])]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(len(items), 8)) as pool:
            return list(pool.map(fn, items))

    def _segment_candidates(self, terms: list[str]) -> list[list[str]]:
        """Per-segment bloom-pruned query terms — pure driver-side
        bloom probes, no Spark jobs. A segment without a
        ``term_bloom`` sidecar keeps all terms. Segments whose list
        comes back empty skip their lexicon-lookup job entirely in
        ``_set_global_df``; the exact per-segment presence sets that
        come back from the surviving lookups then drive search
        eligibility (``_eligible``). Bloom false positives only cost
        one wasted point lookup; false negatives are impossible, so
        the pruning is lossless."""
        uniq = sorted(set(terms))
        if not uniq:
            return [[] for _ in self.engines]
        return [e.bloom_prune(uniq) for e in self.engines]

    def _set_global_df(
        self, terms: list[str], pruned: list[list[str]] | None = None
    ) -> tuple[dict[str, int], list[set]]:
        """Sum per-term df across segment lexicons and install it as
        every segment's df override. The per-segment lexicon lookups
        are independent bucket+term-pruned point jobs — submitted from
        the same thread pool as the searches, so stats collection is
        max-of-segments too. With ``pruned`` (per-segment bloom-passed
        terms) each segment looks up only the terms it might hold;
        segments with none skip their lexicon job entirely (lossless:
        a bloom never misses an indexed term, so the lookup results —
        hence the returned presence sets and the df sums — are
        identical with or without the pruning).

        Returns ``(df_map, found)``: the global per-term df, plus each
        segment's EXACT locally-present term set — the eligibility
        input the query methods need to preserve union-index
        semantics (see ``search``)."""
        if pruned is None:
            pruned = [list(terms)] * len(self.engines)

        def _lookup(pair):
            e, ts = pair
            e._df_override = {}
            return e.lexicon_lookup(ts) if ts else {}

        looks = self._pmap(_lookup, list(zip(self.engines, pruned)))
        df_map: dict[str, int] = {}
        for lk in looks:
            for t, entry in lk.items():
                df_map[t] = df_map.get(t, 0) + entry["df"]
        for e in self.engines:
            e._df_override = df_map
        return df_map, [set(lk) for lk in looks]

    def _eligible(
        self, terms: list[str], mode: str, df_map: dict[str, int],
        found: list[set]
    ) -> list[bool]:
        """Per-segment search eligibility under union-index semantics.

        The gold standard is 'rank-identical to indexing the union at
        once': there, a term missing from the WHOLE union drops
        (reference openList-skip semantics), but a term indexed
        ANYWHERE must be honored by every segment. A lone QueryEngine
        only sees its own lexicon, so without this gate a conjunctive
        query whose term lives only in segment B would silently drop
        that term inside segment A and return A-docs that do not
        contain it. Hence: conjunctive ⇒ the segment's lexicon must
        contain EVERY globally-present query term (docs live in
        exactly one segment, so a match needs all terms in the same
        segment); disjunctive ⇒ at least one present term (a doc only
        ever matches terms its own segment indexes, so locally-dropped
        foreign terms can never change a disjunctive score). All-false
        when no term is indexed anywhere."""
        globally_present = {t for t in set(terms) if t in df_map}
        if not globally_present:
            return [False] * len(found)
        if mode == "conjunctive":
            return [globally_present <= f for f in found]
        return [bool(f) for f in found]

    def search(
        self,
        query: str,
        mode: str = "disjunctive",
        k: int = 10,
        dtype=np.float32,
    ) -> DataFrame:
        """Global top-k (doc_id, score) across all segments."""
        terms = tokenize_query(query)
        out_t = "double" if dtype is np.float64 else "float"
        schema = f"doc_id long, score {out_t}"
        if not terms:
            return self.spark.createDataFrame([], schema)
        pruned = self._segment_candidates(terms)
        df_map, found = self._set_global_df(terms, pruned)
        flags = self._eligible(terms, mode, df_map, found)
        return self._scatter_topk(
            lambda e: e.search(query, mode=mode, k=k, dtype=dtype),
            flags, k, dtype,
        )

    def search_local(
        self, query: str, mode: str = "disjunctive", k: int = 10
    ) -> list[tuple[int, float]]:
        """Driver-side serving twin: per-segment search_local under
        global stats, merged. The multi-segment low-latency path."""
        terms = tokenize_query(query)
        if not terms:
            return []
        pruned = self._segment_candidates(terms)
        df_map, found = self._set_global_df(terms, pruned)
        flags = self._eligible(terms, mode, df_map, found)
        self.last_searched_segments = sum(flags)
        rows: list[tuple[int, float]] = []
        for e, off, ok in zip(self.engines, self.offsets, flags):
            if not ok:
                continue
            rows += [
                (d + off, s)
                for d, s in e.search_local(query, mode=mode, k=k)
            ]
        rows.sort(key=lambda x: (-x[1], x[0]))
        return rows[:k]

    def facet_counts(
        self,
        query: str,
        mode: str = "disjunctive",
        facet: str = "host",
        top_n: int = 20,
    ) -> DataFrame:
        """Global facet counts across segments: every doc lives in
        exactly one segment, so the exact global count per facet is
        the SUM of per-segment exact counts — each segment runs its
        own (uncapped) ``QueryEngine.facet_counts`` as an independent
        job on the scatter-gather pool, the driver sums by facet and
        applies the (n_docs DESC, facet ASC) top_n. No stats override
        needed: facet membership never depends on scores, but the
        eligibility gate from ``search`` still applies — a conjunctive
        segment missing a globally-indexed term would otherwise drop
        it locally and count docs that do not match the full query.
        Bloom-pruned, exact-lookup-gated, like ``search``."""

        def _one(e):
            return [
                (r["facet"], int(r["n_docs"]))
                for r in e.facet_counts(
                    query, mode=mode, facet=facet, top_n=1 << 30
                ).collect()
            ]

        terms = tokenize_query(query)
        pruned = self._segment_candidates(terms)
        df_map, found = self._set_global_df(terms, pruned)
        flags = self._eligible(terms, mode, df_map, found)
        counts: dict[str, int] = {}
        targets = [e for e, ok in zip(self.engines, flags) if ok]
        for part in self._pmap(_one, targets):
            for f, n in part:
                counts[f] = counts.get(f, 0) + n
        rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return self.spark.createDataFrame(
            rows[:top_n], "facet string, n_docs long"
        )

    def suggest(self, prefix: str, n: int = 10) -> DataFrame:
        """Global autocomplete across segments: per-term dfs sum over
        segment lexicons, so each segment contributes its FULL
        (uncapped) prefix match list — a term just below one segment's
        cut could still be the global top suggestion — and the driver
        merges to the (df DESC, term ASC) top n. Vocab-bounded, like
        any lexicon-side operation."""

        def _one(e):
            return [
                (r["term"], int(r["df"]))
                for r in e.suggest(prefix, n=1 << 30).collect()
            ]

        dfs: dict[str, int] = {}
        for part in self._pmap(_one, self.engines):
            for t, d in part:
                dfs[t] = dfs.get(t, 0) + d
        rows = sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0]))
        return self.spark.createDataFrame(rows[:n], "term string, df long")

    def prefix_search(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 128,
        dtype=np.float32,
    ) -> DataFrame:
        """Multi-segment wildcard/prefix query. Each trailing-``*``
        token expands against the UNION lexicon — df is additive
        across segments, so the merged uncapped per-segment prefix
        lists ranked (df DESC, term ASC) and capped reproduce exactly
        what ``expand_prefix`` computes on a union index (the same
        merge ``suggest`` uses; capping per segment first could drop
        a term whose global df clears the cut). The union of plain
        tokens and expansions then scores as one multi-segment
        disjunctive query under global stats."""
        plain, stems = parse_wildcard_query(query)
        terms: set[str] = set(plain)
        for stem in stems:
            terms.update(
                r["term"]
                for r in self.suggest(stem, n=max_expansions).collect()
            )
        if not terms:
            out_t = "double" if dtype is np.float64 else "float"
            return self.spark.createDataFrame(
                [], f"doc_id long, score {out_t}"
            )
        return self.search(
            " ".join(sorted(terms)), mode="disjunctive", k=k, dtype=dtype
        )

    def _fuzzy_merged(
        self, terms: list[str], max_expansions: int
    ) -> dict[str, list[tuple[str, int]]]:
        """Global typo candidates: every segment's UNCAPPED
        ``_fuzzy_candidates`` (side-table point lookups on the
        scatter-gather pool), dfs summed per candidate, then the
        (df DESC, term ASC) cap applied ONCE globally — the same
        cap-after-merge rule as ``prefix_search``, reproducing a
        union-index side table exactly. Every segment must carry a
        fuzzy side table (build.build_fuzzy_index)."""
        if not terms:
            return {}

        def _one(e):
            return e._fuzzy_candidates(terms, 1 << 30)

        got = self._pmap(_one, self.engines)
        out: dict[str, list[tuple[str, int]]] = {}
        for t in terms:
            agg: dict[str, int] = {}
            for g in got:
                for c, d in g.get(t, []):
                    agg[c] = agg.get(c, 0) + d
            out[t] = sorted(
                agg.items(), key=lambda kv: (-kv[1], kv[0])
            )[:max_expansions]
        return out

    def fuzzy_search(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 8,
        dtype=np.float32,
    ) -> DataFrame:
        """Multi-segment typo-tolerant retrieval: per-term ED<=1
        neighborhoods from the merged segment side tables
        (``_fuzzy_merged``), the union scored as one multi-segment
        disjunctive query — the single-engine rewrite, global."""
        got = self._fuzzy_merged(tokenize_query(query), max_expansions)
        terms = {c for lst in got.values() for c, _ in lst}
        if not terms:
            out_t = "double" if dtype is np.float64 else "float"
            return self.spark.createDataFrame(
                [], f"doc_id long, score {out_t}"
            )
        return self.search(
            " ".join(sorted(terms)), mode="disjunctive", k=k, dtype=dtype
        )

    def did_you_mean(self, query: str) -> DataFrame:
        """Multi-segment spell correction: a term indexed in ANY
        segment is its own best correction (df = global sum);
        otherwise the top merged ED<=1 candidate; sentinel ('', -1)
        when nothing is within distance 1 — exactly the single-engine
        contract evaluated against the union vocabulary."""
        terms = tokenize_query(query)
        pruned = self._segment_candidates(terms)
        df_map, _ = self._set_global_df(terms, pruned)
        missing = [t for t in terms if t not in df_map]
        fixes = self._fuzzy_merged(missing, 1) if missing else {}
        rows = []
        for pos, raw in enumerate(terms):
            if raw in df_map:
                rows.append((pos, raw, raw, int(df_map[raw])))
            elif fixes.get(raw):
                cand, cdf = fixes[raw][0]
                rows.append((pos, raw, cand, cdf))
            else:
                rows.append((pos, raw, "", -1))
        return self.spark.createDataFrame(
            rows, "pos int, term string, correction string, df long"
        )

    def _scatter_topk(self, fn, flags, k: int, dtype) -> DataFrame:
        """Scatter ``fn(engine)`` over the eligible segments on the
        thread pool, merge offset-translated (doc_id, score) rows to
        the deterministic global top-k. Shared tail of every
        multi-segment query operator."""
        out_t = "double" if dtype is np.float64 else "float"
        schema = f"doc_id long, score {out_t}"
        targets = [
            (e, off)
            for e, off, ok in zip(self.engines, self.offsets, flags)
            if ok
        ]
        self.last_searched_segments = len(targets)
        if not targets:
            return self.spark.createDataFrame([], schema)

        def _one(pair):
            e, off = pair
            return [
                (int(r["doc_id"]) + off, float(r["score"]))
                for r in fn(e).collect()
            ]

        rows: list[tuple[int, float]] = []
        for part in self._pmap(_one, targets):
            rows += part
        rows.sort(key=lambda x: (-x[1], x[0]))
        return self.spark.createDataFrame(rows[:k], schema)

    def _positional_flags(self, seq: list[str]) -> list[bool]:
        """Eligibility for the positional trio: every distinct term
        must live in the SAME segment (positions cannot straddle
        segments), so a segment qualifies only when its lexicon holds
        them all — the same all-terms rule a union index applies (a
        phrase containing a nowhere-indexed term matches nothing).
        Bloom-pruned lookups exactly as in ``search``; also installs
        the global df override so per-segment BM25 idf matches the
        union build's."""
        uniq = sorted(set(seq))
        if not uniq:
            return [False] * len(self.engines)
        pruned = self._segment_candidates(uniq)
        _, found = self._set_global_df(uniq, pruned)
        need = set(uniq)
        return [need <= f for f in found]

    def phrase_search(
        self, phrase: str, k: int = 10, dtype=np.float32
    ) -> DataFrame:
        """Multi-segment exact-adjacency phrase query: per-segment
        ``QueryEngine.phrase_search`` under global stats (df summed
        across lexicons, collection n/avgdl doc-count-weighted),
        scatter-gathered like ``search`` — rank-identical to a
        positional union index. Needs every segment built with
        ``store_positions=True``."""
        from .tokenizer import tokenize_text

        flags = self._positional_flags(tokenize_text(phrase))
        return self._scatter_topk(
            lambda e: e.phrase_search(phrase, k=k, dtype=dtype),
            flags, k, dtype,
        )

    def proximity_search(
        self, query: str, window: int, k: int = 10, dtype=np.float32
    ) -> DataFrame:
        """Multi-segment NEAR-window query (see
        ``QueryEngine.proximity_search``); union-rank-identical via
        the same global-stats scatter-gather as ``phrase_search``."""
        from .tokenizer import tokenize_text

        flags = self._positional_flags(tokenize_text(query))
        return self._scatter_topk(
            lambda e: e.proximity_search(
                query, window=window, k=k, dtype=dtype
            ),
            flags, k, dtype,
        )

    def ordered_window_search(
        self, query: str, window: int, k: int = 10, dtype=np.float32
    ) -> DataFrame:
        """Multi-segment ordered-window (#odN) query (see
        ``QueryEngine.ordered_window_search``); same scatter-gather
        contract as the other positional operators."""
        from .tokenizer import tokenize_text

        flags = self._positional_flags(tokenize_text(query))
        return self._scatter_topk(
            lambda e: e.ordered_window_search(
                query, window=window, k=k, dtype=dtype
            ),
            flags, k, dtype,
        )

    def search_not(
        self,
        query: str,
        exclude: str,
        mode: str = "disjunctive",
        k: int = 10,
        dtype=np.float32,
    ) -> DataFrame:
        """Multi-segment boolean NOT: positive-query top-k restricted
        to docs containing none of the ``exclude`` terms. Exclusions
        are segment-local by construction (a doc and its postings
        live in exactly one segment), so each eligible segment runs
        its own ``QueryEngine.search_not`` under global stats; a
        segment not containing an excluded term simply has nothing to
        exclude there — union-identical either way. Positive-side
        eligibility follows ``search`` (the conjunctive all-terms
        gate included)."""
        terms = tokenize_query(query)
        if not terms:
            out_t = "double" if dtype is np.float64 else "float"
            return self.spark.createDataFrame(
                [], f"doc_id long, score {out_t}"
            )
        pruned = self._segment_candidates(terms)
        df_map, found = self._set_global_df(terms, pruned)
        flags = self._eligible(terms, mode, df_map, found)
        return self._scatter_topk(
            lambda e: e.search_not(
                query, exclude, mode=mode, k=k, dtype=dtype
            ),
            flags, k, dtype,
        )

    def search_collapsed(
        self,
        query: str,
        mode: str = "disjunctive",
        k: int = 10,
        dtype=np.float32,
    ) -> DataFrame:
        """Multi-segment host-collapsed retrieval. Each eligible
        segment collapses its own (full) match set to one best doc
        per host (uncapped — a host's global winner can sit below any
        per-segment cut); the driver then keeps the best
        (score DESC, doc_id ASC) representative per host across
        segments and ranks hosts. Exact under any offset layout:
        offset translation is monotonic within a segment, so each
        segment's per-host (max-score, min-id) winner is the global
        winner restricted to that segment. Same union-identity
        contract as ``search``; same conjunctive eligibility gate."""
        terms = tokenize_query(query)
        out_t = "double" if dtype is np.float64 else "float"
        schema = f"doc_id long, host string, score {out_t}"
        if not terms:
            return self.spark.createDataFrame([], schema)
        pruned = self._segment_candidates(terms)
        df_map, found = self._set_global_df(terms, pruned)
        flags = self._eligible(terms, mode, df_map, found)
        targets = [
            (e, off)
            for e, off, ok in zip(self.engines, self.offsets, flags)
            if ok
        ]
        self.last_searched_segments = len(targets)
        if not targets:
            return self.spark.createDataFrame([], schema)

        def _one(pair):
            e, off = pair
            return [
                (int(r["doc_id"]) + off, r["host"], float(r["score"]))
                for r in e.search_collapsed(
                    query, mode=mode, k=1 << 30, dtype=dtype
                ).collect()
            ]

        best: dict[str, tuple[float, int]] = {}
        for part in self._pmap(_one, targets):
            for gid, host, score in part:
                cur = best.get(host)
                if cur is None or (-score, gid) < cur:
                    best[host] = (-score, gid)
        rows = sorted(
            (neg_s, gid, host) for host, (neg_s, gid) in best.items()
        )
        return self.spark.createDataFrame(
            [(gid, host, -neg_s) for neg_s, gid, host in rows[:k]],
            schema,
        )

    def _owners(self, doc_ids: list[int]):
        """Group GLOBAL doc ids by owning segment (id-span routing,
        like ``doc_urls``): yields (engine, offset, local_ids)."""
        for e, off in zip(self.engines, self.offsets):
            local = [
                int(d) - off
                for d in doc_ids
                if off <= int(d) <= off + e.max_doc_id
            ]
            if local:
                yield e, off, local

    def snippets(
        self,
        query: str,
        topk: DataFrame,
        window: int = 100,
        max_segments: int = 5,
        parity: bool = False,
    ) -> DataFrame:
        """Multi-segment snippets: the (small) top-k rows route to
        their owning segments by id span, each segment runs its own
        point-lookup fetch + snippet extraction on the scatter-gather
        pool, and the driver re-offsets ids — byte-identical snippet
        text to a union index (extraction sees the same documents and
        terms)."""
        rows = topk.select("doc_id", "score").collect()
        by_id = {int(r["doc_id"]): float(r["score"]) for r in rows}
        jobs = list(self._owners(sorted(by_id)))

        def _one(job):
            e, off, local = job
            local_df = e.spark.createDataFrame(
                [(d, by_id[d + off]) for d in local],
                "doc_id long, score double",
            )
            return [
                (
                    int(r["doc_id"]) + off,
                    float(r["score"]),
                    r["url"],
                    list(r["snippets"]),
                )
                for r in e.snippets(
                    query,
                    local_df,
                    window=window,
                    max_segments=max_segments,
                    parity=parity,
                ).collect()
            ]

        out: list[tuple] = []
        for part in self._pmap(_one, jobs):
            out += part
        return self.spark.createDataFrame(
            out,
            "doc_id long, score double, url string, "
            "snippets array<string>",
        )

    def more_like_this(
        self,
        doc_id: int,
        max_terms: int = 10,
        k: int = 10,
        mode: str = "disjunctive",
        dtype=np.float64,
    ) -> DataFrame:
        """Multi-segment more-like-this: the seed doc fetches from its
        owning segment (one point lookup), its terms' idfs come from
        the GLOBAL df map (bloom-pruned segment lookups — a union
        index would rank the seed's terms with exactly these), and
        the top tf·idf terms run as a multi-segment query with the
        seed excluded. Same Lucene MLT semantics as the single
        engine, evaluated against the union vocabulary."""
        from .tokenizer import tokenize_text

        empty = self.spark.createDataFrame(
            [], "doc_id long, score " + (
                "double" if dtype is np.float64 else "float"
            )
        )
        jobs = list(self._owners([int(doc_id)]))
        if not jobs:
            raise KeyError(f"doc_id {doc_id} not in any segment")
        # try every span match, not just the first: explicit offsets
        # (e.g. all 0 over disjoint id ranges) can make spans overlap,
        # in which case only one candidate segment actually holds the
        # doc — the same all-matches routing doc_urls/snippets use
        rows: list = []
        for e, off, local in jobs:
            seed = e.spark.createDataFrame(
                [(local[0], 0.0)], "doc_id long, score double"
            )
            rows = e.fetch_docs(seed).select("text").collect()
            if rows:
                break
        if not rows:
            raise KeyError(f"doc_id {doc_id} not in the doc table")
        toks = tokenize_text(rows[0]["text"] or "")
        if not toks:
            return empty
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        uniq = sorted(tf)
        pruned = self._segment_candidates(uniq)
        df_map, _ = self._set_global_df(uniq, pruned)
        scored = sorted(
            (-tf[t] * wand.idf(df, self.n_docs), t)
            for t, df in df_map.items()
        )
        terms = [t for _, t in scored[:max_terms]]
        if not terms:
            return empty
        res = self.search(" ".join(terms), mode=mode, k=k + 1, dtype=dtype)
        return (
            res.where(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def segment_stats(self) -> DataFrame:
        """Per-segment observability — one ``index_stats`` row per
        segment plus its position and path: the dashboard an LSM
        operator reads to decide when to compact (many small deltas,
        skewed doc counts) or merge. Built-segment stats, not the
        global overrides; lexicon-sized jobs on the scatter-gather
        pool."""

        def _one(pair):
            i, e = pair
            row = e.index_stats().collect()[0].asDict()
            return (
                i,
                self.index_dirs[i],
                int(row["n_docs"] or 0),
                float(row["avgdl"] or 0.0),
                int(row["n_terms"] or 0),
                int(row["n_postings"] or 0),
                int(row["n_chunks"] or 0),
                int(row["max_df"] or 0),
            )

        rows = self._pmap(_one, list(enumerate(self.engines)))
        return self.spark.createDataFrame(
            sorted(rows),
            "segment int, index_dir string, n_docs long, avgdl double, "
            "n_terms long, n_postings long, n_chunks long, max_df long",
        )

    def expansion_terms(
        self,
        query: str,
        k_docs: int = 10,
        top_n: int = 20,
        min_co: int = 2,
        mode: str = "disjunctive",
        dtype=np.float64,
    ) -> DataFrame:
        """Multi-segment pseudo-relevance-feedback expansion: feedback
        docs come from the multi-segment retrieval, fetch by owning
        segment (id-span routing), candidate dfs from the GLOBAL df
        map — the same lift formula ln((co/k)/(df/N)) a union index
        computes. Identical to the union result whenever the top-k
        cut is tie-free (the k-th score boundary is the only place
        the two id spaces can pick different feedback docs)."""
        from .tokenizer import tokenize_text

        empty = self.spark.createDataFrame(
            [], "term string, co_docs long, df long, score double"
        )
        seeds = set(tokenize_query(query))
        topk_rows = self.search(
            query, mode=mode, k=k_docs, dtype=dtype
        ).collect()
        if not topk_rows:
            return empty
        k = len(topk_rows)
        ids = [int(r["doc_id"]) for r in topk_rows]

        def _one(job):
            e, off, local = job
            small = e.spark.createDataFrame(
                [(d, 0.0) for d in local], "doc_id long, score double"
            )
            return [
                r["text"]
                for r in e.fetch_docs(small).select("text").collect()
            ]

        co: dict[str, int] = {}
        for part in self._pmap(_one, list(self._owners(ids))):
            for text in part:
                for t in set(tokenize_text(text or "")):
                    co[t] = co.get(t, 0) + 1
        cand = sorted(
            t for t, c in co.items() if c >= min_co and t not in seeds
        )
        if not cand:
            return empty
        pruned = self._segment_candidates(cand)
        df_map, _ = self._set_global_df(cand, pruned)
        n = float(self.n_docs)
        rows = []
        for t in cand:
            df_t = df_map.get(t)
            if df_t is None:
                continue
            score = float(np.log((co[t] / k) / (df_t / n)))
            rows.append((t, co[t], int(df_t), round(score, 4)))
        rows.sort(key=lambda r: (-r[3], r[0]))
        return self.spark.createDataFrame(
            rows[:top_n], "term string, co_docs long, df long, score double"
        )

    def doc_urls(self, doc_ids: list[int]) -> dict[int, str]:
        """Map GLOBAL result ids back to urls via the segment doc
        tables (per-segment point lookups, same pruning as snippets)."""
        out: dict[int, str] = {}
        bounds = list(zip(self.engines, self.offsets))
        for e, off in bounds:
            local = [
                d - off
                for d in doc_ids
                if off <= d <= off + e.max_doc_id
            ]
            if not local:
                continue
            dt = e._stage_df("doc_table").where(
                F.col("doc_id").isin([int(x) for x in local])
            )
            for r in dt.select("doc_id", "url").collect():
                out[int(r["doc_id"]) + off] = r["url"]
        return out
