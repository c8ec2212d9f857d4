"""Block-max WAND machinery: per-chunk score bounds + segment sweep.

The reference's conjunctive executor skips compressed chunks via
``nextGEQ`` binary search over per-chunk last_doc_ids
(/root/reference/component/query_process/QueryExecution.cpp:122-147 —
studied, not copied). Block-max WAND extends that with per-chunk SCORE
upper bounds so chunks that cannot reach the current top-k threshold
are never decoded (Ding & Suel, "Faster top-k document retrieval using
block-max indexes", SIGIR'11 — public literature).

Spark-first re-expression:

* Build time: every encoded chunk stores ``max_ratio``/``min_ratio`` =
  max/min over its postings of ``tf / (K + tf)`` with
  ``K = k1*(1-b+b*dl/avgdl)`` — the document-dependent part of BM25.
  A term's chunk score bound is then ``idf * (k1+1) * max_ratio``
  (``min_ratio`` for negative-idf terms, where the LEAST negative
  contribution is the upper bound).
* Query time: all query terms' chunk intervals are swept into
  ELEMENTARY SEGMENTS (between consecutive chunk boundaries). Within a
  segment each term is covered by at most one whole chunk, so a
  segment's bound = sum of its covering chunks' bounds is a true upper
  bound for every doc in the segment. Segments are processed in
  descending bound order against the running top-k threshold — the
  distributed-friendly formulation of the sequential WAND pointer walk
  (segments are independent work units; chunk decode order no longer
  matters).

Bounds are computed in float64 over the float32 engine scores, with a
relative safety margin (`BOUND_MARGIN`) absorbing float32 rounding, so
pruning can never change the top-k (rank-identity preserved).
"""

from __future__ import annotations

import numpy as np

K1 = 1.2
B = 0.75

# relative margin applied to segment bounds: float32 scoring can exceed
# the float64 bound by ~1e-7 relative; 1e-5 is comfortably safe
BOUND_MARGIN = 1e-5


def idf(df: int, n_docs: int) -> float:
    """Reference idf: ln((N-df+0.5)/(df+0.5)), no clamp (may be < 0)."""
    return float(np.log((n_docs - df + 0.5) / (df + 0.5)))


def ratio_bounds(
    tfs: np.ndarray, dls: np.ndarray, starts: np.ndarray, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """Per-chunk (max_ratio, min_ratio) of tf/(K+tf) over contiguous
    chunks given by ``starts`` (vectorized: one reduceat each)."""
    if len(starts) == 0:
        return np.empty(0), np.empty(0)
    avgdl = max(float(avgdl), 1e-9)
    k = K1 * ((1.0 - B) + B * dls.astype(np.float64) / avgdl)
    ratio = tfs.astype(np.float64) / (k + tfs.astype(np.float64))
    return (
        np.maximum.reduceat(ratio, starts),
        np.minimum.reduceat(ratio, starts),
    )


def term_chunk_bounds(
    term_idf: float, max_ratio: np.ndarray, min_ratio: np.ndarray
) -> np.ndarray:
    """Per-chunk upper bound of one term's BM25 contribution."""
    scale = term_idf * (K1 + 1.0)
    if term_idf >= 0:
        return scale * np.asarray(max_ratio, dtype=np.float64)
    return scale * np.asarray(min_ratio, dtype=np.float64)


class TermChunks:
    """One query term's chunk metadata, sorted by first_doc_id.

    ``rows`` carries caller-defined chunk handles (e.g. row indices into
    a decoded table, or (salt, chunk_seq) keys) aligned with the arrays.
    """

    __slots__ = ("first", "last", "n", "bound", "rows")

    def __init__(self, first, last, n, bound, rows):
        first = np.asarray(first, dtype=np.int64)
        arrays = (
            first, np.asarray(last, dtype=np.int64),
            np.asarray(n, dtype=np.int64),
            np.asarray(bound, dtype=np.float64), np.asarray(rows),
        )
        if (first[1:] < first[:-1]).any():  # rows read in order need none
            order = np.argsort(first, kind="stable")
            arrays = tuple(a[order] for a in arrays)
        self.first, self.last, self.n, self.bound, self.rows = arrays

    @property
    def df(self) -> int:
        return int(self.n.sum())

    def covering(self, ids: np.ndarray) -> np.ndarray:
        """Indices (sorted, distinct) of the chunks whose doc-id span
        holds any of ``ids``."""
        idx = np.searchsorted(self.first, ids, side="right") - 1
        safe = np.clip(idx, 0, None)
        return np.unique(idx[(idx >= 0) & (self.last[safe] >= ids)])


def sweep_segments(
    metas: dict[str, TermChunks], conjunctive: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Elementary-interval sweep over all terms' chunk boundaries.

    Returns (seg_lo, seg_hi, seg_bound, cover):
    * segments are half-open doc-id intervals [lo, hi);
    * ``cover[s, j]`` = index into term j's chunk arrays of the chunk
      covering segment s (-1 if none), terms in sorted(metas) order;
    * ``seg_bound`` = margin-inflated upper bound of any doc's total
      score inside the segment (conjunctive: only fully-covered
      segments are returned — coverage pruning subsumes the doc-id
      interval intersection of the plain nextGEQ analogue).
    """
    terms = sorted(metas)
    bps = np.unique(
        np.concatenate(
            [m.first for m in metas.values()]
            + [m.last + 1 for m in metas.values()]
        )
    )
    seg_lo = bps[:-1]
    seg_hi = bps[1:]
    n_seg = len(seg_lo)
    cover = np.full((n_seg, len(terms)), -1, dtype=np.int64)
    bound = np.zeros(n_seg, dtype=np.float64)
    gross = np.zeros(n_seg, dtype=np.float64)
    for j, t in enumerate(terms):
        m = metas[t]
        idx = np.searchsorted(m.first, seg_lo, side="right") - 1
        safe = np.clip(idx, 0, None)
        cov = (idx >= 0) & (m.last[safe] >= seg_lo)
        cover[:, j] = np.where(cov, idx, -1)
        tb = m.bound[safe]
        if not conjunctive:
            # a disjunctive doc may simply LACK a negative-idf term, so
            # that term's best contribution to any doc is 0, not its
            # (negative) chunk bound
            tb = np.maximum(tb, 0.0)
        bound += np.where(cov, tb, 0.0)
        gross += np.where(cov, np.abs(tb), 0.0)
    if conjunctive:
        keep = (cover >= 0).all(axis=1)
    else:
        keep = (cover >= 0).any(axis=1)
    seg_lo, seg_hi, bound, cover, gross = (
        seg_lo[keep],
        seg_hi[keep],
        bound[keep],
        cover[keep],
        gross[keep],
    )
    # the margin scales with the GROSS per-term magnitude, not the net
    # bound: a conjunctive segment where a rare term (+5.0) and a
    # negative-idf stop word (-4.9999) nearly cancel has a tiny net
    # bound but its docs' float32 scores still carry ~1e-7 * 5.0
    # absolute error — a net-relative margin there would be smaller
    # than the scoring noise and could prune a true top-k doc. In
    # disjunctive mode bounds are clamped >= 0 so gross == bound and
    # this is byte-identical to the old net-relative inflation.
    bound = bound + BOUND_MARGIN * gross + 1e-9
    return seg_lo, seg_hi, bound, cover


def segment_docs(
    metas: dict[str, TermChunks], cover: np.ndarray, conjunctive: bool
) -> np.ndarray:
    """Per segment of :func:`sweep_segments` (``cover`` as it returns
    it), an estimate of the docs it holds: the sum of its covering
    chunks' posting counts, or for a conjunctive sweep the least of
    them."""
    ns = []
    for j, t in enumerate(sorted(metas)):
        cj = cover[:, j]
        ns.append(np.where(cj >= 0, metas[t].n[np.clip(cj, 0, None)], 0))
    return np.minimum.reduce(ns) if conjunctive else np.sum(ns, axis=0)


def merge_intervals(
    lo: np.ndarray, hi: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Merge sorted-by-lo half-open intervals into maximal disjoint ones."""
    if len(lo) == 0:
        return lo, hi
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    # new run starts where lo > running max of previous hi
    run_hi = np.maximum.accumulate(hi)
    new_run = np.empty(len(lo), dtype=bool)
    new_run[0] = True
    new_run[1:] = lo[1:] > run_hi[:-1]
    starts = np.flatnonzero(new_run)
    ends = np.append(starts[1:], len(lo))
    return lo[starts], run_hi[ends - 1]


def ids_in_intervals(
    ids: np.ndarray, lo: np.ndarray, hi: np.ndarray
) -> np.ndarray:
    """Boolean mask of ``ids`` lying in any half-open [lo, hi) interval
    (intervals disjoint + sorted)."""
    if len(lo) == 0:
        return np.zeros(len(ids), dtype=bool)
    idx = np.searchsorted(lo, ids, side="right") - 1
    safe = np.clip(idx, 0, None)
    return (idx >= 0) & (ids < hi[safe])


def tombstone_mask(
    ids: np.ndarray, deleted: np.ndarray | None
) -> np.ndarray | None:
    """Keep-mask of ``ids`` against the sorted int64 tombstone array
    ``deleted``, or None when no id is deleted (no tombstones, or none
    among ``ids``) and every id stays as it is."""
    if deleted is None or not len(deleted) or not len(ids):
        return None
    ids64 = ids.astype(np.int64, copy=False)
    pos = np.clip(np.searchsorted(deleted, ids64), 0, len(deleted) - 1)
    keep = deleted[pos] != ids64
    return None if keep.all() else keep
