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
that with per-chunk score upper bounds stored at build time (every
build, compaction and upsert writes them; an index without them is
refused when an engine opens it). Both query paths sweep the query
terms' chunk intervals into elementary segments and process them in
descending score-bound order against the running top-k threshold —
segments (and therefore chunks) whose bound cannot reach the threshold
are never decoded. Pruning is margin-safe: results stay rank-identical
to exhaustive evaluation.

Physical plan of ``search()``, ``search_not()`` and ``batch_search`` —
one planner (``_answer``); ``search()`` is a batch of one. Below
METADATA_CAP on the parquet layout it answers on the driver, ZERO Spark
jobs:
    SegmentReader (segment.py): the batch's terms' chunk metadata as
      array slices of its pinned, term-sorted bucket files (the same
      files ``search_local`` reads) -> lexicon stats + per-term
      block-max bounds, no lexicon job
    per query, WAND sweep -> elementary segments (conjunctive: only the
      segments every term covers); theta from the metadata alone when
      the chunk bounds separate, else, for a batch whose terms own at
      least BATCH_PRUNE_FLOOR chunks, the k-th best score of ONE shared
      phase-1 decode of every query's top-bound segments' chunks
    the union of the surviving (term, salt, chunk_seq) keys' postings
      from the same pinned files (one ``ChunkRows.gather`` per term:
      slices of a file decoded whole, else decoded for this read;
      tombstones masked), scored and cut to each query's top k in numpy
      (``_score_local``, the one driver-side scorer; the phase-1 probe
      is the same call with the probe's keys, masked to its segments)
    result rows -> a DataFrame over a pyarrow table (``local_frame``),
      whose collect starts no Spark job
The final decode stays a Spark job — chunks scan filtered to the
surviving keys by one pushed-down predicate, mapInArrow decode + score,
a broadcast (query_id, term) fan-out, groupBy(query_id, doc_id) agg,
top k per query (``_spark_topk``) — for Iceberg indexes, NOT clauses,
tombstone sets too large for the driver, kept sets above
KEYS_COLLECT_CAP and, above METADATA_CAP (where the reader stops), the
distributed sweep (``_batch_banded``). The first three also probe theta
with a Spark job, and Iceberg indexes collect metadata with one.

A driver-local fast path (``search_local``) reads the same rows through
the same reader and runs the block-max sweep sequentially in numpy —
the interactive "REPL" parity path with ~ms latency, no Spark job.
"""

from __future__ import annotations

import functools
import os

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
# planner runs DISTRIBUTED (see _batch_banded): chunk intervals are
# binned into fixed doc-id bands, the same elementary-segment sweep
# runs per (query, band) as an applyInPandas job, and only bounded
# aggregates (top-bound segments, surviving-key COUNT) ever reach the
# driver; the surviving chunk keys stay in a DataFrame and prune the
# decode via a leftsemi join. Score-bounded skipping therefore never
# turns off, matching nextGEQ semantics (QueryExecution.cpp:122-147) at
# any scale.
METADATA_CAP = 262144

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

# the largest surviving chunk-key set the driver handles itself: at
# most this many keys are point-read and scored on the driver
# (_score_local, no Spark job) where the layout allows, else they
# become an exact (term, salt, chunk_seq) PREDICATE on the Spark decode
# scan — In filters reach the parquet reader (row-group stats +
# dictionary pruning), so the decode does point reads instead of
# scanning every queried term's payload bytes and discarding them
# post-join. Above the cap the predicate would bloat the plan; the
# leftsemi join (broadcast under KEYS_BROADCAST_CAP) remains the
# at-scale shape.
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
# the first.
_META_COLS = ["bucket", *segment.META_COLS]

# driver-side scoring (_score_local) of the phase-1 theta probe and of
# a final kept set of at most KEYS_COLLECT_CAP chunks, for search() and
# batch_search alike: an IR engine answers a point-read sized key set
# from storage directly instead of scheduling a distributed job per
# query (measured at 4M docs: the Spark probe cost 5.7-7.4 s of fixed
# scheduling + scan tasks per batch, the pyarrow point read tens of ms;
# on a 10k-doc index a search() + collect took 1.20 s with the Spark
# final job, 0.17 s scored on the driver, medians on a 4-core host).
# Tests set it False to force the Spark probe AND the Spark final job.
LOCAL_THETA = True

# the phase-1 threshold probe runs only when the batch's terms (one
# search()'s, or a batch_search's) own at least this many chunks —
# below it, decoding every kept chunk (~0.5M postings at the floor)
# costs no more than the probe's extra decode pass; at web scale, where
# a single stop word owns orders of magnitude more chunks, the floor is
# noise. The metadata-only threshold (_meta_theta) costs no decode and
# applies below it too.
BATCH_PRUNE_FLOOR = 4096


@functools.lru_cache(maxsize=64)
def _frame_schema(schema: str):
    """(Spark StructType, pyarrow schema) of a DDL schema string."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    return st, to_arrow_schema(st)


def local_frame(spark, schema: str, columns: dict | None = None) -> DataFrame:
    """A DataFrame over driver-resident rows (``columns``: field name ->
    values for every ``schema`` field; None for no rows), built from a
    pyarrow table: collecting it starts no Spark job, where a
    ``createDataFrame(list)`` frame's collect starts one (~0.3-0.5 s)."""
    import pyarrow as pa

    st, arrow_schema = _frame_schema(schema)
    if columns is None:
        tbl = arrow_schema.empty_table()
    else:
        tbl = pa.table(
            [pa.array(columns[f.name], f.type) for f in arrow_schema],
            schema=arrow_schema,
        )
    return spark.createDataFrame(tbl, st)


MODES = ("disjunctive", "conjunctive")


def check_mode(mode) -> None:
    """Refuse, with ValueError, a ``mode`` other than ``MODES``."""
    if not isinstance(mode, str) or mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")


def check_k_mode(k, mode: str = MODES[0]) -> None:
    """Refuse, with ValueError, a ``k`` that is not an int >= 1 (a bool
    is refused) or a ``mode`` other than ``MODES``."""
    if isinstance(k, bool) or not isinstance(k, (int, np.integer)) or k < 1:
        raise ValueError(f"k must be an int >= 1, got {k!r}")
    check_mode(mode)


def kth_score(top: dict | None, k: int) -> float | None:
    """The k-th best score of one query's :meth:`QueryEngine._score_local`
    rows, None below k rows."""
    if top is None or len(top["score"]) < k:
        return None
    return float(top["score"][k - 1])


def topk_order(docs: np.ndarray, score: np.ndarray, k: int) -> np.ndarray:
    """Indices of the top ``k`` of ``score``, ordered score desc, doc id
    asc: ``np.partition`` finds the k-th best score, and only the
    candidates at or above it (ties included) are sorted."""
    sel = np.arange(len(score))
    if len(score) > k:
        sel = np.flatnonzero(score >= np.partition(score, len(score) - k)[-k])
    order = np.lexsort((docs[sel], -score[sel].astype(np.float64)))
    return sel[order[:k]]


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
        # pinned metadata projection (see _META_COLS); built lazily on
        # the first planning read, unpersisted by close()
        self._meta_df: DataFrame | None = None
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
                index_dir, self.bucket_count, self._deleted, METADATA_CAP
            )
        )
        # every planner reads the chunks' block-max bounds, so an index
        # written before they were stored is refused here, once: on
        # parquet from one data file's footer (no Spark job)
        cols = (
            self._stage_df("chunks").columns if self._reader is None
            else self._reader.schema
        )
        if "term" in cols and "max_ratio" not in cols:
            raise ValueError(
                f"index {index_dir!r} has chunks without block-max score "
                "bounds (max_ratio/min_ratio); rebuild it with IndexBuilder"
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
        (see the ``_META_COLS`` comment). The index an engine serves is
        immutable, so the pinned frame never goes stale."""
        if self._meta_df is None:
            from pyspark import StorageLevel

            self._meta_df = (
                self._stage_df("chunks")
                .select(_META_COLS)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._meta_df.where(
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
        (``PushedFilters``): every chunk file is sorted by (term, salt,
        chunk_seq) — the build sorts by bucket first, so the
        partitioned write keeps that order (``IndexBuilder._write``) —
        so row groups of non-kept terms prune on term stats and the In
        list prunes on chunk_seq ranges: the decode reads ~|keys| chunk
        payloads instead of every queried term's. (Files of an index
        written before the build kept this order prune less; the rows
        selected are the same.) Callers gate on KEYS_COLLECT_CAP."""
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
        with_dl: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        """Decode chunks and emit per-posting BM25 scores."""
        n_docs, avgdl = self.n_docs, self.avgdl
        dfs = {t: e["df"] for t, e in lex.items()}
        out_dtype = "double" if dtype is np.float64 else "float"
        # tombstone mask (stats/df stay intentionally stale — Lucene
        # deleted-docs semantics; see maintenance.py module doc). theta
        # probes run through this same decode, so thresholds are always
        # attained by ALIVE docs.
        deleted = self._deleted

        def decode(batches):
            # Arrow-NATIVE decode (mapInArrow — same reasoning as the
            # build's encode_partition): one codecs.decode_chunk_batch
            # call per record batch decodes every chunk into flat
            # arrays, the tombstone mask applies to those, and the
            # postings are scored per distinct term.
            # The only Python strings are the batch's DISTINCT terms
            # (dictionary-encoded in Arrow C++); the per-posting term
            # column is a C++ dictionary gather, and every output
            # column is a zero-copy numpy→Arrow array.
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
                ids, tfs, dl, offsets = codecs.decode_chunk_batch(
                    col["payload"], col["codec"], col["dls"]
                )
                ids = ids.view(np.int64)
                code = np.repeat(
                    denc.indices.to_numpy(zero_copy_only=False),
                    np.diff(offsets),
                )
                keep = wand.tombstone_mask(ids, deleted)
                if keep is not None:
                    ids, tfs, dl, code = (
                        ids[keep], tfs[keep], dl[keep], code[keep]
                    )
                if not len(ids):
                    continue
                scores = np.empty(
                    len(ids), np.float64 if dtype is np.float64
                    else np.float32
                )
                # one stable sort groups the postings by term, so each
                # posting is scored once whatever the batch's term count
                order = np.argsort(code, kind="stable")
                uniq = denc.dictionary.to_pylist()
                bounds = np.searchsorted(
                    code[order], np.arange(len(uniq) + 1)
                )
                for tc, t in enumerate(uniq):
                    sel = order[bounds[tc]:bounds[tc + 1]]
                    if len(sel):
                        scores[sel] = bm25_scores(
                            tfs[sel], dl[sel], dfs[t], n_docs, avgdl, dtype
                        )
                arrays = [
                    pc.take(denc.dictionary, pa.array(code)),
                    pa.array(ids),
                    pa.array(tfs.astype(np.int64)),
                    pa.array(scores, type=score_type),
                ]
                if with_dl:
                    arrays.append(pa.array(dl.astype(np.int64)))
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
        return local_frame(self.spark, schema)

    def _term_meta(self, terms: list[str]) -> segment.ChunkRows | None:
        """Chunk rows of ``terms`` with their lexicon stats and WAND
        metadata (segment.ChunkRows): ONE read serves both the planner
        and the lexicon (df = sum of chunk n), so a query needs no
        separate lexicon job. The parquet layout reads it through the
        SegmentReader (no Spark job): array slices of the files it pins,
        whose postings the driver scoring of this and later queries
        reads. It reads at most METADATA_CAP rows of files it
        pins plus METADATA_CAP rows and one record batch of files it
        streams. Iceberg collects it with one Spark job. The rows carry
        no postings.
        Returns None when the term set exceeds METADATA_CAP (callers
        fall back to the lexicon + the banded planner)."""
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
            cr = self._reader.rows(
                terms, cap=METADATA_CAP, postings=False
            )
            if cr is None:
                return None
        else:
            import pyarrow as pa

            self._plan_jobs += 1
            rows = (
                self._chunks_meta(terms)
                .select(*segment.META_COLS)
                .limit(METADATA_CAP + 1)
                .collect()
            )
            if len(rows) > METADATA_CAP:
                return None
            batch = pa.record_batch([
                pa.array(
                    [r[c] for r in rows],
                    pa.string() if c == "term"
                    else pa.float64() if c.endswith("_ratio")
                    else pa.int64(),
                )
                for c in segment.META_COLS
            ], names=segment.META_COLS)
            cr = segment.ChunkRows(
                segment.FileRows(batch).parts(list(dict.fromkeys(terms)))
            )
        cr.plan(self.n_docs, self._df_of, self._scale_max, self._scale_min)
        for t, e in cr.lex.items():
            self._lex_cache_put(t, {**e, "df": cr.raw_df[t]})
        for t in terms:
            self._lex_cache_put(t, None, overwrite=False)  # proven absent
        return cr

    def _meta_theta(
        self,
        present: list[str],
        metas: dict[str, wand.TermChunks],
        lex: dict[str, dict],
        k: int,
    ) -> float | None:
        """Score threshold of a disjunctive (or one-term) query from
        chunk metadata ALONE (no decode job); None where it is not valid
        or no term has k chunks.

        A chunk's bound is ATTAINED: ``max_ratio`` is the exact maximum
        tf/(K+tf) over its postings, so some doc scores exactly
        idf*(K1+1)*max_ratio on that term. Chunks of one term hold
        disjoint doc ranges, so that term's k highest chunk bounds are
        attained by k DISTINCT docs; when every query term has
        nonnegative idf, each doc's total score >= its attained bound
        (other terms only add). Hence max over terms of the k-th
        highest chunk bound is a true lower bound of the k-th best
        total score. Invalid for conjunctive (the attaining doc need
        not contain the other terms) and with a NOT clause (an excluded
        doc may be the attainer): callers gate on both. Invalid with
        negative idf anywhere (another term could subtract). The
        bounds must be attained by live docs, so it is off while
        deletes exist (a tombstoned doc may be the attainer) and under
        a stats override (rescaled bounds are no longer attained).
        """
        if (
            self.has_deletes
            or self.has_stats_override
            or any(
                wand.idf(lex[t]["df"], self.n_docs) < 0 for t in present
            )
        ):
            return None
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

    # ------------------------------------------------------------- search

    def search(
        self,
        query: str,
        mode: str = "disjunctive",
        k: int = 10,
        explain: bool = False,
        dtype=np.float32,
    ) -> DataFrame:
        """Top-k (doc_id, score) DataFrame for one query, in rank order:
        a batch of one through :meth:`batch_search`'s planner.

        ``explain=True`` adds the reference's per-result detail
        (QueryExecution.cpp:459-498): ``doc_length`` plus a ``terms``
        array of (term, score, tf) per matched term.
        """
        check_k_mode(k, mode)
        return self._answer([(0, query)], mode, k, dtype, explain, single=True)

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
        planner with that frame passed down: every Spark job that
        ranks docs (the phase-1 probe and the final job) anti-joins
        it, so every theta is derived from already-excluded rankings.
        The two shortcuts that cannot see the exclusion (metadata-only
        theta, driver scoring) are off for the query. Scores are
        unchanged for surviving docs: BM25 over the positive terms
        only, rank order identical to filtering the exhaustive
        ranking. Unindexed excluded terms drop out (nothing to
        exclude), mirroring the openList skip on the positive side.
        """
        check_k_mode(k, mode)
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
        return self._answer(
            [(0, query)], mode, k, dtype, explain, exclude=neg_ids,
            single=True,
        )

    def batch_search(
        self,
        queries: list[tuple[int, str]],
        mode: str = "disjunctive",
        k: int = 10,
        dtype=np.float32,
    ) -> DataFrame:
        """Score MANY queries at once: (query_id, doc_id, score, rank),
        the top ``k`` of every query (see :meth:`_answer`)."""
        check_k_mode(k, mode)
        qids = [qid for qid, _text in queries]
        if len(set(qids)) < len(qids):
            raise ValueError("batch_search query ids must be distinct")
        return self._answer(queries, mode, k, dtype)

    def _answer(
        self,
        queries: list[tuple[int, str]],
        mode: str,
        k: int,
        dtype=np.float32,
        explain: bool = False,
        exclude: DataFrame | None = None,
        single: bool = False,
    ) -> DataFrame:
        """The query planner of ``search``, ``search_not`` and
        ``batch_search``: every query's top ``k`` as (query_id, doc_id,
        score, rank) or, ``single``, the one query's (doc_id, score[,
        doc_length, terms]) in rank order. ``exclude`` is a NOT clause's
        doc-id frame.

        Distinct terms are read and scored once for the whole batch.
        WAND pruning composes with the shared decode: one metadata
        read feeds a segment sweep per query (:meth:`_batch_plan`;
        above METADATA_CAP the distributed :meth:`_batch_banded`), ONE
        shared phase-1 probe yields the probed queries' thresholds, and
        the UNION of surviving chunk keys prunes the decode (a chunk is
        decoded iff at least one query still needs it — per-query
        thresholds never prune another query's chunks, they only stop
        paying for chunks NO query needs).

        Where :meth:`_local_ok` admits the surviving key set (below
        METADATA_CAP on the parquet layout) the probe and the final
        scoring both run on the driver (:meth:`_score_local`) and the
        result frame collects without a Spark job; the frames the
        Spark jobs fan out through are built only when one runs."""
        score_t = "double" if dtype is np.float64 else "float"
        if not single:
            schema = f"query_id int, doc_id long, score {score_t}, rank int"
        else:
            schema = f"doc_id long, score {score_t}"
            if explain:
                schema += (
                    ", doc_length long, terms array<struct<term:string,"
                    f"score:{score_t},tf:bigint>>"
                )
        self.last_plan_stats = {
            "chunks_total": 0, "chunks_kept": 0, "pruner": "none",
        }
        self._plan_jobs = 0
        by_q = {qid: tokenize_query(text) for qid, text in queries}
        all_terms = sorted({t for ts in by_q.values() for t in ts})
        if not all_terms:
            return self._empty(schema)
        # one metadata read yields lexicon stats AND the WAND plan; the
        # separate lexicon lookup only runs above METADATA_CAP
        cr = self._term_meta(all_terms)
        lex = cr.lex if cr is not None else self.lexicon_lookup(all_terms)
        # terms missing from the lexicon drop (reference openList skip)
        by_q = {q: [t for t in ts if t in lex] for q, ts in by_q.items()}
        by_q = {q: ts for q, ts in by_q.items() if ts}
        if not by_q:
            return self._empty(schema)
        total = sum(e["n_chunks"] for e in lex.values())
        self.last_plan_stats.update(chunks_total=total, chunks_kept=total)
        conj = mode == "conjunctive"
        if cr is not None:
            keys, thetas = self._batch_plan(
                by_q, cr, lex, conj, k, dtype, exclude
            )
            if keys is None and cr.n_rows <= KEYS_COLLECT_CAP:
                keys = [cr.key(r) for r in range(cr.n_rows)]
        else:
            # above METADATA_CAP: the distributed banded planner —
            # score-bounded skipping must not turn off for exactly the
            # queries that need it most (a stop word at 10^12 docs
            # owns ~10^8 chunks)
            keys, thetas = self._batch_banded(
                by_q, lex, conj, k, dtype, exclude
            )
        if keys is EMPTY_BATCH:
            return self._empty(schema)
        # every theta is a k-th-best lower bound of its query (>= k docs
        # were proven to reach it), so any doc whose FINAL aggregated
        # score falls below it can't make the top k: filter before the
        # per-query top-k cut — in the Spark job the rank window's sort
        # input shrinks from every scored doc to the theta-beating
        # candidates, which is what keeps the final exchange k-ish-sized
        # instead of corpus-sized at scale. The margin absorbs float32
        # sum-order nondeterminism between the phase-1 and final
        # aggregations (same treatment as segment-bound pruning,
        # wand.BOUND_MARGIN).
        floors = {
            qid: th - wand.BOUND_MARGIN * abs(th) - 1e-9
            for qid, th in thetas.items()
        }
        if floors:
            self.last_plan_stats["theta_filter"] = len(floors)
        local = isinstance(keys, list) and self._local_ok(len(keys), exclude)
        self.last_plan_stats["scorer"] = "local" if local else "spark"
        if cr is not None:
            # the Spark jobs a driver-planned query starts: its planning
            # actions plus the final job when Spark scores it (0 on the
            # driver path). A Spark action counts once, though AQE may
            # run it as several jobs.
            self.last_plan_stats["driver_jobs"] = self._plan_jobs + int(
                not local
            )
        if not local:
            return self._spark_topk(
                keys, lex, by_q, conj, k, dtype, explain, exclude, floors,
                single,
            )
        tops = self._score_local(
            keys, lex, by_q, k, conj, floors=floors, explain=explain,
            dtype=dtype, cr=cr,
        )
        if single:
            return local_frame(self.spark, schema, tops.get(queries[0][0]))
        if not tops:
            return self._empty(schema)
        qids = sorted(tops)
        n = [len(tops[q]["doc_id"]) for q in qids]
        return local_frame(self.spark, schema, {
            "query_id": np.repeat(np.array(qids, np.int32), n),
            "doc_id": np.concatenate([tops[q]["doc_id"] for q in qids]),
            "score": np.concatenate([tops[q]["score"] for q in qids]),
            "rank": np.concatenate(
                [np.arange(1, m + 1, dtype=np.int32) for m in n]
            ),
        })

    def _per_query(
        self,
        scored: DataFrame,
        by_q: dict[int, list[str]],
        conj: bool,
        aggs: list,
        exclude: DataFrame | None = None,
        ivals: list[tuple[int, int, int]] | None = None,
    ) -> DataFrame:
        """Scored postings fanned out to every query holding their term
        (a broadcast (query_id, term) map), optionally masked to each
        query's own (query_id, lo, hi) doc-id intervals ``ivals``, and
        aggregated per (query_id, doc_id) by ``aggs``. Conjunctive keeps
        the docs that matched every term of their query; a NOT clause's
        docs (``exclude``) are anti-joined here, on one row per doc —
        AQE picks broadcast when the excluded set is small."""
        qt_df = F.broadcast(self.spark.createDataFrame(
            [(q, t) for q, ts in by_q.items() for t in ts],
            "query_id int, term string",
        ))
        s = scored.join(qt_df, "term")
        if ivals is not None:
            iv = F.broadcast(self.spark.createDataFrame(
                ivals, "query_id int, lo long, hi long"
            )).alias("v")
            s = s.alias("s").join(
                iv,
                (F.col("s.query_id") == F.col("v.query_id"))
                & (F.col("s.doc_id") >= F.col("v.lo"))
                & (F.col("s.doc_id") < F.col("v.hi")),
                "leftsemi",
            )
        agg = s.groupBy("query_id", "doc_id").agg(
            *aggs, F.count("*").alias("_nt")
        )
        if conj:
            nq_df = F.broadcast(self.spark.createDataFrame(
                [(q, len(ts)) for q, ts in by_q.items()],
                "query_id int, n_terms int",
            ))
            agg = agg.join(nq_df, "query_id").where(
                F.col("_nt") == F.col("n_terms")
            ).drop("n_terms")
        if exclude is not None:
            agg = agg.join(exclude, "doc_id", "left_anti")
        return agg.drop("_nt")

    def _spark_topk(
        self,
        keys,
        lex: dict[str, dict],
        by_q: dict[int, list[str]],
        conj: bool,
        k: int,
        dtype,
        explain: bool,
        exclude: DataFrame | None,
        floors: dict[int, float],
        single: bool,
    ) -> DataFrame:
        """The final Spark job: decode and score the kept chunks (every
        chunk of the batch's terms for ``keys`` None), each query's docs
        above its theta floor, cut to its top ``k`` — as :meth:`_answer`
        returns them."""
        from pyspark.sql import Window

        score_t = "double" if dtype is np.float64 else "float"
        chunks = self._chunks(sorted(lex))
        if keys is not None:
            chunks = self._apply_keys(chunks, keys)
        scored = self._scored_postings(
            chunks, lex, with_dl=explain, dtype=dtype
        )
        aggs = [F.sum("score").cast(score_t).alias("score")]
        if explain:
            aggs += [
                F.first("dl").alias("doc_length"),
                F.sort_array(
                    F.collect_list(F.struct("term", "score", "tf"))
                ).alias("terms"),
            ]
        per_q = self._per_query(scored, by_q, conj, aggs, exclude)
        if floors:
            th_df = F.broadcast(self.spark.createDataFrame(
                list(floors.items()), "query_id int, _theta double"
            ))
            per_q = per_q.join(th_df, "query_id", "left").where(
                F.col("_theta").isNull()
                | (F.col("score") >= F.col("_theta"))
            ).drop("_theta")
        if single:
            return (
                per_q.drop("query_id")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            per_q.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    def _batch_plan(
        self,
        by_q: dict[int, list[str]],
        cr: segment.ChunkRows,
        lex: dict[str, dict],
        conj: bool,
        k: int,
        dtype=np.float32,
        exclude: DataFrame | None = None,
    ) -> tuple:
        """Per-query block-max WAND plans over the shared decode:
        (kept keys, {query_id: theta}).

        Driver-side (numpy, on the already-read metadata): one segment
        sweep per query (conjunctive: only segments every term of the
        query covers). A disjunctive or one-term query without a NOT
        clause (whose excluded docs may attain it) takes its threshold
        from the chunk metadata alone where :meth:`_meta_theta` applies
        — no decode, so at any batch size — and where that threshold
        already keeps no more segments than a probe would decode, it is
        the query's plan. Otherwise, when the batch's terms own at
        least BATCH_PRUNE_FLOOR chunks, a query whose sweep is large
        enough to bound gets a phase-1 probe; ALL probes share ONE
        decode — union of top-bound-segment chunk keys, scored once,
        masked per query to its own segment intervals (mask => exact
        scores, so each k-th-best is a true theta lower bound even with
        negative-idf terms). Kept chunks per query = segments with
        bound >= theta_q; the kept keys are the sorted union of every
        query's (None: every chunk; EMPTY_BATCH: no query can match).

        Safety of the final (unmasked) scoring: a doc in a segment
        pruned for query q aggregates, for q, a partial sum bounded by
        the segment's (margin-inflated) bound < theta_q — it can never
        displace the k docs theta_q was proven by, which live in kept
        segments (their bounds >= their scores), even on ties.
        Conjunctive: a doc passing the n_terms filter has every term
        decoded, hence an EXACT score (per-term postings of one doc
        live in exactly one chunk), so kept-segment docs are scored
        exactly and pruned-segment survivors stay below theta.
        """
        total = self.last_plan_stats["chunks_total"]
        thresholdable = total >= BATCH_PRUNE_FLOOR
        thetas: dict[int, float] = {}
        plans: dict[int, tuple] = {}  # qid -> (tq, bound, cover)
        kept_keys: set[tuple] = set()
        p1_keys: set[tuple] = set()
        p1_ivals: list[tuple[int, int, int]] = []
        n_segs = n_kept = 0
        for qid, tq in by_q.items():
            conj_q = conj and len(tq) > 1
            sub = {t: cr.metas[t] for t in tq}
            seg_lo, seg_hi, bound, cover = wand.sweep_segments(sub, conj_q)
            n_segs += len(seg_lo)
            if len(seg_lo) == 0:
                continue  # provably no (conjunctive) results
            order = np.argsort(-bound, kind="stable")
            # phase 1: enough top-bound segments to (heuristically)
            # cover >= 4k candidate docs
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
            # breadth matters more than depth for theta quality: the
            # k-th best score should come from k DIFFERENT high-bound
            # segments, not one segment's low-scoring tail
            n_p1 = min(max(n_p1, 16), len(order))
            run_p1 = thresholdable and n_p1 < len(order)
            if not conj_q and exclude is None:
                theta0 = self._meta_theta(tq, sub, lex, k)
                if theta0 is not None:
                    thetas[qid] = theta0
                    # "separates cleanly": the metadata threshold already
                    # keeps no more segments than phase 1 would decode
                    # anyway — a decode probe cannot pay for itself
                    if int((bound >= theta0).sum()) <= max(n_p1, 16):
                        run_p1 = False
            if run_p1:
                p1 = order[:n_p1]
                plans[qid] = (tq, bound, cover)
                p1_keys |= cr.cover_keys(tq, cover[p1])
                lo, hi = wand.merge_intervals(seg_lo[p1], seg_hi[p1])
                p1_ivals += [
                    (qid, int(a), int(b))
                    for a, b in zip(lo.tolist(), hi.tolist())
                ]
                continue
            keep = bound >= thetas.get(qid, -np.inf)
            n_kept += int(keep.sum())
            kept_keys |= cr.cover_keys(tq, cover[keep])
        if thetas:
            self.last_plan_stats["theta0"] = len(thetas)
        if plans:
            # ONE shared phase-1 decode for every probed query
            probed = self._batch_theta(
                sorted(p1_keys), p1_ivals, lex, conj, k, dtype,
                {qid: p[0] for qid, p in plans.items()}, exclude, cr,
            )
            self.last_plan_stats["thetas"] = len(probed)
            for qid, th in probed.items():
                thetas[qid] = max(th, thetas.get(qid, th))
            for qid, (tq, bound, cover) in plans.items():
                keep = bound >= thetas.get(qid, -np.inf)
                n_kept += int(keep.sum())
                kept_keys |= cr.cover_keys(tq, cover[keep])
        self.last_plan_stats.update({
            "pruner": "batch_wand",
            "chunks_kept": len(kept_keys),
            "segments": n_segs,
            "segments_kept": n_kept,
        })
        if not kept_keys:
            return EMPTY_BATCH, thetas
        if len(kept_keys) >= total:
            return None, thetas
        return sorted(kept_keys), thetas

    def _batch_theta(
        self,
        p1_keys: list[tuple],
        p1_ivals: list[tuple[int, int, int]],
        lex: dict[str, dict],
        conj: bool,
        k: int,
        dtype,
        by_q: dict[int, list[str]],
        exclude: DataFrame | None = None,
        cr: segment.ChunkRows | None = None,
    ) -> dict[int, float]:
        """The shared phase-1 threshold probe: decode exactly
        ``p1_keys``, mask each query's postings to its own probe
        intervals (mask => exact scores, so each k-th best is a true
        theta lower bound), and return {query_id: k-th best score} for
        every query that produced >= k masked results.

        The probe set is planner-bounded, so when :meth:`_local_ok`
        admits it the probe is a driver point read
        (:meth:`_score_local`); the Spark job remains the path for
        Iceberg layouts, above-cap tombstone sets and NOT clauses (it
        anti-joins ``exclude``, so the k-th best is one of surviving
        docs)."""
        from pyspark.sql import Window

        if self._local_ok(len(p1_keys), exclude):
            self.last_plan_stats["theta_probe"] = "local"
            ivals: dict[int, tuple[list, list]] = {}
            for qid, lo, hi in p1_ivals:
                iv = ivals.setdefault(qid, ([], []))
                iv[0].append(lo)
                iv[1].append(hi)
            tops = self._score_local(
                p1_keys, lex, by_q, k, conj, dtype=dtype, cr=cr,
                ivals={
                    q: (np.array(lo, np.int64), np.array(hi, np.int64))
                    for q, (lo, hi) in ivals.items()
                },
            )
            thetas = {q: kth_score(top, k) for q, top in tops.items()}
            return {q: th for q, th in thetas.items() if th is not None}
        self.last_plan_stats["theta_probe"] = "spark"
        self._plan_jobs += 1
        p1_terms = sorted({t for t, _s, _c in p1_keys})
        kept1 = self._apply_keys(self._chunks(p1_terms), p1_keys)
        agg1 = self._per_query(
            self._scored_postings(kept1, lex, dtype=dtype), by_q, conj,
            [F.sum("score").alias("score")], exclude, p1_ivals,
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
        by_q: dict[int, list[str]],
        lex: dict[str, dict],
        conj: bool,
        k: int,
        dtype=np.float32,
        exclude: DataFrame | None = None,
    ) -> tuple:
        """Distributed WAND planning ABOVE ``METADATA_CAP``, where chunk
        metadata must not be collected: (kept keys, {query_id: theta}),
        kept keys as :meth:`_batch_plan` returns them or a frame.

        Without this, a web-scale batch (whose terms own more chunk
        rows than the driver may collect) would silently decode every
        chunk. Instead: chunk metadata joins the broadcast (query_id,
        term) map, doc-id bands bin the intervals
        (``explode(sequence(first_band, last_band))`` — a term's
        intervals are globally disjoint even when salted, because salts
        are contiguous doc-id ranges, so per term each band sees a
        disjoint clipped interval set), and ONE applyInPandas job runs
        the per-(query, band) segment sweep, the SAME numpy sweep as
        the driver planner (wand.sweep_segments): band edges only split
        segments, never change coverage, so segments and bounds match a
        global sweep and stay distributed. Per query, the top-bound
        segments (bounded collect: <= 64 x |batch| rows) drive the same
        shared phase-1 theta probe as the under-cap planner
        (``_batch_theta``); segments with bound >= their query's theta
        survive, and the DISTINCT union of surviving chunk keys
        (localCheckpoint truncates the sweep lineage) prunes the shared
        decode. Safety per query mirrors ``_batch_plan``.
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
        qt_df = F.broadcast(self.spark.createDataFrame(
            [(q, t) for q, ts in by_q.items() for t in ts],
            "query_id int, term string",
        ))
        banded = meta.join(qt_df, "term").select("*", band)
        nq_map = {q: len(ts) for q, ts in by_q.items()}
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
            # keys (the round-3 shape paid a second cache-scan job for
            # the chosen keys). The
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
            if not top_rows:
                return EMPTY_BATCH, {}
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
                # 64 collected means more segments likely exist beyond
                # the prefix — phase 1 is then always worthwhile; with
                # fewer, it only pays if it covers a strict subset
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
                thetas = self._batch_theta(
                    p1_keys, p1_ivals, lex, conj, k, dtype,
                    {q: by_q[q] for q in p1}, exclude,
                )
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
                    if c["nk"] == c["n"]:
                        return None, thetas
            elif not conj:
                # no thetas and disjunctive: nothing can have been
                # pruned (see above) — decode everything, skip the
                # distinct entirely
                return None, thetas
            keys_df = (
                kept.select("term", "salt", "chunk_seq")
                .distinct()
                .localCheckpoint(eager=True)
            )
            n_keys = keys_df.count()
            self.last_plan_stats["chunks_kept"] = n_keys
            if n_keys == 0:
                return EMPTY_BATCH, thetas
            if n_keys >= total_chunks:
                return None, thetas
            # checkpointed + counted already: a <=cap-row collect is
            # cheap and turns the decode into pushdown point reads
            return self._resolve_keys(keys_df, n_keys), thetas
        finally:
            segs.unpersist()

    # ------------------------------------------------- driver-local path

    def _local_ok(
        self, n_keys: int, exclude: DataFrame | None = None
    ) -> bool:
        """Whether ``n_keys`` chunks are scored on the driver
        (:meth:`_score_local`): on the parquet layout, while every
        tombstone fits the reader's mask and without a NOT clause's
        ``exclude`` (the Spark jobs apply both exclusions by
        anti-join), for a point-read sized key set."""
        return (
            LOCAL_THETA
            and n_keys <= KEYS_COLLECT_CAP
            and self._reader is not None
            and self._deleted_df is None
            and exclude is None
        )

    def _score_local(
        self,
        keys: list[tuple],
        lex: dict[str, dict],
        by_q: dict[int, list[str]],
        k: int,
        conj: bool,
        ivals: dict[int, tuple[np.ndarray, np.ndarray]] | None = None,
        floors: dict[int, float] | None = None,
        explain: bool = False,
        dtype=np.float32,
        cr: segment.ChunkRows | None = None,
    ) -> dict[int, dict]:
        """The driver-side scorer, twin of the Spark decode + aggregate
        (:meth:`_spark_topk` and :meth:`_batch_theta`'s job): take the
        postings of exactly ``keys`` (:meth:`_key_postings`, tombstones
        masked), score every posting once per term, and per query
        ``qid`` of ``by_q`` (its sorted term list) sum over its terms
        and cut to the top ``k``.

        ``ivals`` ({qid: (lo, hi)}, sorted disjoint half-open doc-id
        intervals) masks each query's postings to its own intervals —
        a query without an entry is skipped; ``conj`` keeps only docs
        that matched every term of their query; ``floors`` ({qid:
        score}) drops a query's docs scoring below its floor.

        Returns {qid: {"doc_id", "score"[, "doc_length", "terms"]}}
        ordered score desc, doc_id asc, for every query with a row.
        Scores follow the Spark job's arithmetic: per-posting
        ``bm25_scores`` in ``dtype``, float64 doc sums (in sorted-term
        order) cast to ``dtype``; ``explain`` adds each doc's length and
        its (term, score, tf) entries sorted like
        ``sort_array(collect_list(struct(term, score, tf)))``. As the
        phase-1 probe (k-th best over masked postings) it yields a true
        lower bound of the k-th best final score: within a mask
        interval every posting of a doc is decoded, so its masked score
        is exact."""
        per_term: dict[str, tuple] = {}
        for t, (ids, tfs, dls) in self._key_postings(keys, cr).items():
            if len(ids):
                per_term[t] = (ids, tfs, dls, bm25_scores(
                    tfs, dls, lex[t]["df"], self.n_docs, self.avgdl, dtype
                ))
        out: dict[int, dict] = {}
        for qid, terms in by_q.items():
            iv = None
            if ivals is not None:
                iv = ivals.get(qid)
                if iv is None:
                    continue
            parts = []
            for t in terms:
                p = per_term.get(t)
                if p is not None and iv is not None:
                    keep = wand.ids_in_intervals(p[0], *iv)
                    p = tuple(a[keep] for a in p) if keep.any() else None
                if p is not None:
                    parts.append((t, p))
            if not parts or (conj and len(parts) < len(terms)):
                continue
            cand = np.unique(np.concatenate([p[0] for _t, p in parts]))
            total = np.zeros(len(cand), dtype=np.float64)
            nt = np.zeros(len(cand), dtype=np.int32)
            for _t, (ids, _tfs, _dls, sc) in parts:
                pos = np.searchsorted(cand, ids)
                total[pos] += sc
                nt[pos] += 1
            score = total.astype(dtype)
            sel = nt == len(terms) if conj else np.ones(len(cand), bool)
            if floors is not None and qid in floors:
                sel &= score >= floors[qid]
            cand, score = cand[sel], score[sel]
            top = topk_order(cand, score, k)
            if not len(top):
                continue
            row = {"doc_id": cand[top], "score": score[top]}
            if explain:
                row.update(self._explain_rows(row["doc_id"], parts))
            out[qid] = row
        return out

    @staticmethod
    def _explain_rows(docs: np.ndarray, parts: list[tuple]) -> dict:
        """``doc_length`` and ``terms`` (one [{term, score, tf}] list per
        doc, in term order) of the top ``docs`` over one query's scored
        per-term postings ``parts`` (sorted by term)."""
        doc_length = np.zeros(len(docs), dtype=np.int64)
        terms: list[list[dict]] = [[] for _ in range(len(docs))]
        for t, (ids, tfs, dls, sc) in parts:
            pos = np.clip(np.searchsorted(ids, docs), 0, len(ids) - 1)
            for i in np.flatnonzero(ids[pos] == docs).tolist():
                j = pos[i]
                doc_length[i] = dls[j]
                terms[i].append(
                    {"term": t, "score": float(sc[j]), "tf": int(tfs[j])}
                )
        return {"doc_length": doc_length, "terms": terms}

    def _key_postings(
        self, keys: list[tuple], cr: segment.ChunkRows | None = None
    ) -> dict[str, tuple]:
        """{term: (doc_ids, tfs, doc_lengths)} of exactly the chunk
        ``keys``, in doc-id order, tombstoned ids masked: one
        :meth:`segment.ChunkRows.gather` per term of its rows among
        ``cr`` (the plan's rows) when they hold postings, else among a
        read of the keys' terms with postings (the plan streamed a file
        without them)."""
        if not keys:
            return {}
        if cr is None or not cr.has_postings:
            terms = sorted({t for t, _s, _c in keys})
            cr = self._reader.rows(terms)
            if self._reader.streams(terms):
                import pyarrow as pa

                # a streamed read's transient buffers (every payload of
                # the rows read) go back to the OS now: left to
                # jemalloc's lazy decay, their purge lands in the next
                # Arrow allocations — measured as +11% to +29% on the
                # search_local ops that follow a driver-scored search()
                # (perfbench serve, 3 seeds, 4-core host)
                pa.default_memory_pool().release_unused()
        rows = cr.find(keys)
        out = {}
        for t, (lo, hi) in cr.span.items():
            mine = rows[(rows >= lo) & (rows < hi)]
            if len(mine):
                out[t] = cr.gather(mine)
        return out

    def search_local(
        self, query: str, mode: str = "disjunctive", k: int = 10
    ) -> list[tuple[int, float]]:
        """Low-latency driver-side path: the query terms' chunk rows as
        slices of the SegmentReader's term-sorted bucket files (cold
        files are pinned, up to the reader's byte cap), then a
        block-max WAND sweep in two vectorised passes over the segments
        (see below): chunks covering no segment that can reach the
        top-k threshold are never read. ``last_local_stats``
        ["chunks_decoded"] counts the distinct chunks whose postings the
        query read; ``["theta0"]`` is the metadata threshold, when one
        applied."""
        check_k_mode(k, mode)
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
        stats = {
            "chunks_total": 0,
            "chunks_decoded": 0,
            "segments_total": 0,
            "segments_processed": 0,
        }
        self.last_local_stats = stats
        terms = tokenize_query(query)
        if not terms:
            return []
        # repeated terms serve from the reader's pinned files, cold
        # terms read through
        cr = self._reader.rows(terms)
        if cr is None or not cr.n_rows:
            return []
        cr.plan(self.n_docs, self._df_of, self._scale_max, self._scale_min)
        # terms missing from the index were already dropped by the scan
        # filter (reference openList skip)
        metas = cr.metas
        present = sorted(metas)
        dfs = {t: cr.lex[t]["df"] for t in present}
        stats["chunks_total"] = cr.n_rows
        if mode == "conjunctive" and len(present) > 1:
            # posting-level nextGEQ (reference DAAT semantics): read
            # the rarest term fully, then for every other term read
            # ONLY the chunks that contain a surviving candidate —
            # score-bound segments cannot express this granularity
            return self._local_conjunctive(cr, dfs, present, k, stats)

        seg_lo, seg_hi, bound, cover = wand.sweep_segments(
            metas, conjunctive=False
        )
        stats["segments_total"] = len(seg_lo)
        if len(seg_lo) == 0:
            return []
        # pass 1: the segments whose bound reaches the metadata
        # threshold (they hold every doc that attains it, so their k-th
        # best score is at least that high), else the 16 top-bound
        # segments; pass 2: every other segment whose bound reaches
        # pass 1's k-th best score. Segments are disjoint, so no doc is
        # scored twice.
        theta0 = self._meta_theta(present, metas, cr.lex, k)
        if theta0 is not None:
            stats["theta0"] = theta0
            first = bound >= theta0
        else:
            first = np.zeros(len(bound), dtype=bool)
            first[np.argsort(-bound, kind="stable")[:16]] = True
        read: list[np.ndarray] = []
        cand, score = self._score_segments(
            cr, present, dfs, seg_lo, seg_hi, cover, first, read
        )
        theta = -np.inf
        if len(score) >= k:
            theta = float(np.partition(score, len(score) - k)[-k])
        second = ~first & (bound >= theta)
        if second.any():
            cand2, score2 = self._score_segments(
                cr, present, dfs, seg_lo, seg_hi, cover, second, read
            )
            cand = np.concatenate([cand, cand2])
            score = np.concatenate([score, score2])
        stats["segments_processed"] = int(first.sum() + second.sum())
        if read:
            stats["chunks_decoded"] = len(np.unique(np.concatenate(read)))
        return [
            (int(cand[i]), float(score[i]))
            for i in topk_order(cand, score, k).tolist()
        ]

    def _score_segments(
        self,
        cr: segment.ChunkRows,
        present: list[str],
        dfs: dict[str, int],
        seg_lo: np.ndarray,
        seg_hi: np.ndarray,
        cover: np.ndarray,
        sel: np.ndarray,
        read: list,
    ) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, float32 scores) of every doc in the segments
        ``sel`` (a mask over ``wand.sweep_segments``' output): per term,
        one :meth:`segment.ChunkRows.gather` of the chunks covering
        them, masked to their merged intervals, scored and summed in
        sorted-term order (rank identity with the oracle). The rows read
        are appended to ``read``."""
        lo, hi = wand.merge_intervals(seg_lo[sel], seg_hi[sel])
        scored = []
        for j, t in enumerate(present):
            cis = np.unique(cover[sel, j])
            rows = cr.metas[t].rows[cis[cis >= 0]]
            if not len(rows):
                continue
            read.append(rows)
            ids, tfs, dls = cr.gather(rows)
            keep = wand.ids_in_intervals(ids, lo, hi)
            ids = ids[keep]
            if len(ids):
                scored.append((ids, bm25_scores(
                    tfs[keep], dls[keep], dfs[t], self.n_docs, self.avgdl
                )))
        if len(scored) < 2:
            return scored[0] if scored else (
                np.zeros(0, np.int64), np.zeros(0, np.float32)
            )
        cand = np.unique(np.concatenate([ids for ids, _s in scored]))
        total = np.zeros(len(cand), dtype=np.float32)
        for ids, sc in scored:
            pos = np.searchsorted(cand, ids)
            total[pos] = (total[pos] + sc).astype(np.float32)
        return cand, total

    def _local_conjunctive(
        self,
        cr: segment.ChunkRows,
        dfs: dict[str, int],
        present: list[str],
        k: int,
        stats: dict,
    ) -> list[tuple[int, float]]:
        """Pivot-driven conjunctive DAAT: candidates = the rarest term's
        postings; every other term (rarest first) reads only chunks
        containing a surviving candidate, shrinking the candidate set as
        it goes, each term's chunks in one
        :meth:`segment.ChunkRows.gather`. Exact evaluation — no
        threshold needed."""
        by_df = sorted(present, key=lambda t: (dfs[t], t))
        rows = cr.metas[by_df[0]].rows
        stats["chunks_decoded"] = len(rows)
        lists = {by_df[0]: cr.gather(rows)}
        cand = lists[by_df[0]][0]
        for t in by_df[1:]:
            m = cr.metas[t]
            idx = np.searchsorted(m.first, cand, side="right") - 1
            safe = np.clip(idx, 0, None)
            hit = (idx >= 0) & (m.last[safe] >= cand)
            need = np.unique(idx[hit])
            if not len(need):
                return []
            stats["chunks_decoded"] += len(need)
            lists[t] = cr.gather(m.rows[need])
            cand = np.intersect1d(cand, lists[t][0], assume_unique=True)
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
        return [
            (int(cand[i]), float(total[i]))
            for i in topk_order(cand, total, k).tolist()
        ]

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
        check_k_mode(k)
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
        check_k_mode(k)
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
        check_k_mode(k)
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
        vocab-sized (orders of magnitude below the corpus), and each of
        its files is sorted by term (the build sorts by bucket, then
        term, so the partitioned write keeps the order), so parquet
        row-group min/max stats prune ranges that cannot contain the
        prefix; hash-bucket partition pruning does not apply (a prefix
        spans buckets) and is not needed at this table's size. Returned
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
        check_k_mode(k)
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
        check_mode(mode)
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
        check_k_mode(k, mode)
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
        check_k_mode(k, mode)
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
        check_k_mode(k)
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
        check_k_mode(k, mode)
        terms = tokenize_query(query)
        out_t = "double" if dtype is np.float64 else "float"
        schema = f"doc_id long, score {out_t}"
        if not terms:
            return local_frame(self.spark, schema)
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
        check_k_mode(k, mode)
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
        check_mode(mode)

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
        check_k_mode(k)
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
        check_k_mode(k)
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
            return local_frame(self.spark, schema)

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
        return local_frame(self.spark, schema, {
            "doc_id": [d for d, _s in rows[:k]],
            "score": [s for _d, s in rows[:k]],
        })

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
        check_k_mode(k)
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
        check_k_mode(k)
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
        check_k_mode(k)
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
        check_k_mode(k, mode)
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
        check_k_mode(k, mode)
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
        check_k_mode(k, mode)
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
