"""Doc-ID reordering for posting-list compression (SURVEY.md §2.4).

The reference's secondary pipeline (R1-R6,
/root/reference/component/doc_reordering/BlandfordBlelloch.cpp:20-465 —
studied, not copied) recursively bisects the corpus by tf-vector cosine
similarity so similar documents get adjacent docIDs, shrinking
delta-gaps in posting lists.

Two Spark-first re-expressions, cheap and faithful:

``reorder_by_content`` (cheap, one shuffle): sorting on a
locality-sensitive content key —

    new_doc_id = rank over (simhash_gray, old_doc_id)

where ``simhash_gray`` is the Gray-code of the tf-weighted SimHash
(Gray ordering makes Hamming-adjacent sketches sort adjacently). One
shuffle (the range sort), fully distributed, deterministic. The rank is
computed with the same partition-offset prefix-sum trick as
``corpus.assign_doc_ids`` — no single-partition window.

``reorder_bisect`` (faithful): the reference's actual algorithm shape —
recursive cosine bisection with per-side centroids — made
level-synchronous so every cluster at a depth splits in the same
constant number of Spark jobs (no driver-side recursion, no O(n²)
similarity graph), with the Gray sort as the within-leaf order.

``compression_stats`` measures the payoff: encoded chunk bytes before
vs after reordering on the same corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .corpus import assign_doc_ids
from .dedup import simhash


def reorder_by_content(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Return ``docs`` with doc ids re-assigned in content-locality
    order. Input needs (doc_id, text [, ...]); all other columns are
    preserved; the old id is kept as ``orig_doc_id``."""
    sh = simhash(docs.select("doc_id", "text"), bits=bits)
    # LEFT join: simhash emits no row for docs whose text tokenizes to
    # zero terms (empty/punctuation-only); they must be KEPT, keyed by a
    # sentinel sketch of 0 so the corpus is preserved bit-for-bit
    # Gray code: adjacent sketches differ in one bit -> adjacent sort keys
    gray = F.expr(
        "coalesce(simhash, 0L) ^ (coalesce(simhash, 0L) >> 1)"
    ).alias("locality_key")
    keyed = docs.join(sh, "doc_id", "left").select(
        F.col("doc_id").alias("orig_doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
        gray,
    )
    out = assign_doc_ids(keyed, order_col=["locality_key", "orig_doc_id"])
    return out.drop("locality_key")


def _term_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, term, w): raw tf vector per doc — the reference's
    get_term_vector (BlandfordBlelloch.cpp:408-419, studied not
    copied)."""
    from .tokenizer import tokenize_col

    return (
        docs.select("doc_id", F.explode(tokenize_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("w"))
    )


def _unit_term_weights(
    docs: DataFrame, raw: DataFrame | None = None
) -> DataFrame:
    """(doc_id, term, uw): L2-normalized tf vector per doc — the
    reference's get_term_vector + cosine denominator precomputed
    (BlandfordBlelloch.cpp:272-307, studied not copied). Pass ``raw``
    (a persisted _term_weights frame) to reuse one corpus tokenize
    pass across the unit/raw consumers."""
    tf = _term_weights(docs) if raw is None else raw
    norm = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    return tf.join(norm, "doc_id").select(
        "doc_id", "term", (F.col("w") / F.col("norm")).alias("uw")
    )


def _md5v(d: int) -> str:
    import hashlib

    return hashlib.md5(str(d).encode()).hexdigest()


def _com(ids: list[int], tvecs: dict[int, dict[str, float]]) -> dict:
    """Center of mass of a doc set's tf vectors (BlandfordBlelloch.cpp
    center_of_mass, studied not copied). The 1/n scale is kept for
    parity with the reference even though every consumer is a cosine
    (scale-invariant)."""
    out: dict[str, float] = {}
    for d in ids:
        for t, v in tvecs[d].items():
            out[t] = out.get(t, 0.0) + v
    n = max(len(ids), 1)
    return {t: v / n for t, v in out.items()}


def _cos(a: dict[str, float], b: dict[str, float]) -> float:
    if not a or not b:
        return 0.0
    small, big = (a, b) if len(a) <= len(b) else (b, a)
    up = sum(v * big.get(t, 0.0) for t, v in small.items())
    qa = sum(v * v for v in a.values()) ** 0.5
    qb = sum(v * v for v in b.values()) ** 0.5
    return up / (qa * qb) if qa > 0 and qb > 0 else 0.0


def _prim_split(
    ids: list[int],
    tvecs: dict[int, dict[str, float]],
    graph_tf_threshold: float = 10.0,
) -> tuple[list[int], list[int]]:
    """The reference's similarity-graph + Prim-style half-growth
    partition (build_graph:202-237 + partition:274-300, studied not
    copied). Quirks preserved: graph edges skip terms with tf above
    the threshold but cosine weights use FULL vectors; growth picks
    the MINIMUM-D frontier vertex (the code as written)."""
    n = len(ids)
    # adjacency: docs sharing any term whose tf <= threshold
    by_term: dict[str, list[int]] = {}
    for i, d in enumerate(ids):
        for t, v in tvecs[d].items():
            if v > graph_tf_threshold:
                continue
            by_term.setdefault(t, []).append(i)
    adj: list[set[int]] = [set() for _ in range(n)]
    for members in by_term.values():
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                adj[members[ai]].add(members[bi])
                adj[members[bi]].add(members[ai])
    cosmemo: dict[tuple[int, int], float] = {}

    def w(i: int, j: int) -> float:
        key = (i, j) if i < j else (j, i)
        got = cosmemo.get(key)
        if got is None:
            got = cosmemo[key] = _cos(tvecs[ids[i]], tvecs[ids[j]])
        return got

    INF = float("inf")
    vis = [False] * n
    D = [INF] * n
    vis[0] = True
    for e in adj[0]:
        D[e] = min(D[e], w(0, e))
    count, half = 1, n // 2
    has_edge = [bool(adj[i]) for i in range(n)]
    while count < half:
        u = -1
        for i in range(n):
            if vis[i] or not has_edge[i]:
                continue
            if u == -1 or D[i] < D[u]:
                u = i
        if u == -1:
            break
        vis[u] = True
        for e in adj[u]:
            D[e] = min(D[e], w(u, e))
        count += 1
    one = [ids[i] for i in range(n) if vis[i]]
    two = [ids[i] for i in range(n) if not vis[i]]
    return one, two


def _split_cluster(
    ids: list[int],
    tvecs: dict[int, dict[str, float]],
    graph_tf_threshold: float = 10.0,
    direct_cap: int = 500,
    sample_cap: int = 1000,
) -> tuple[list[int], list[int]]:
    """split_index's two branches (BlandfordBlelloch.cpp:239-272,
    studied not copied): direct Prim partition up to ``direct_cap``
    docs; above, Prim-partition a ``sample_cap`` md5-ordered sample
    and assign every doc to the nearer sample-half center of mass by
    cosine (ties to side two). Degenerate splits fall back to the
    incoming-order mid split."""
    if len(ids) > direct_cap:
        sample = sorted(ids, key=_md5v)[: min(sample_cap, len(ids))]
        s1, s2 = _prim_split(sample, tvecs, graph_tf_threshold)
        if not s1 or not s2:
            mid = len(ids) // 2
            return ids[:mid], ids[mid:]
        d1, d2 = _com(s1, tvecs), _com(s2, tvecs)
        one, two = [], []
        for d in ids:
            (one if _cos(tvecs[d], d1) > _cos(tvecs[d], d2) else two).append(d)
        if not one or not two:
            mid = len(ids) // 2
            return ids[:mid], ids[mid:]
        return one, two
    return _prim_split(ids, tvecs, graph_tf_threshold)


def _bb_leaf_order(
    doc_ids: list[int],
    tvecs: dict[int, dict[str, float]],
    graph_tf_threshold: float = 10.0,
    direct_cap: int = 500,
    sample_cap: int = 1000,
    min_seg: int = 21,
) -> list[int]:
    """The reference's ACTUAL order_index recursion over one leaf
    cluster, in-process (BlandfordBlelloch.cpp:20-465, studied not
    copied): similarity graph over term-sharing docs -> Prim-style
    half-growth partition -> per-side centers of mass -> neighbor-
    oriented halves (order_cluster) -> recurse; clusters above
    ``direct_cap`` partition a sample and assign the rest by centroid
    cosine (split_index's two branches); recursion stops at
    ``min_seg``-doc segments (order_index's R-L <= 20), which keep
    incoming order. The reference's rand() sampling is replaced by
    md5(doc_id) order — same distributional role, engine-reproducible.

    Quirks preserved: graph edges skip terms with tf above the
    threshold but cosine weights use FULL vectors (build_graph:202-237);
    Prim growth picks the MINIMUM-D frontier vertex (partition:274-300,
    the code as written); split_index ties assign to side 2.
    """

    def split(ids: list[int]) -> tuple[list[int], list[int]]:
        return _split_cluster(
            ids, tvecs, graph_tf_threshold, direct_cap, sample_cap
        )

    out: list[int] = []
    # iterative DFS (explicit stack) — leaf_cap/min_seg keep depth tiny
    # but Python's recursion limit shouldn't be the bound
    init = _com(sorted(doc_ids, key=_md5v)[: min(100, len(doc_ids))], tvecs)
    stack = [(list(doc_ids), init, init)]
    while stack:
        ids, mL, mR = stack.pop()
        if len(ids) <= min_seg:
            out.extend(ids)
            continue
        one, two = split(ids)
        if not one or not two:
            out.extend(ids)
            continue
        m1, m2 = _com(one, tvecs), _com(two, tvecs)
        if _cos(mL, m1) * _cos(mR, m2) <= _cos(mL, m2) * _cos(mR, m1):
            one, two, m1, m2 = two, one, m2, m1
        # LIFO stack: push right half first so left emits first
        stack.append((two, m1, mR))
        stack.append((one, mL, m2))
    return out


def _prim_outer_levels(
    docs: DataFrame,
    state: DataFrame,
    tf: DataFrame,
    depth: int,
    graph_tf_threshold: float = 10.0,
    direct_cap: int = 500,
    sample_cap: int = 1000,
    min_seg: int = 21,
    raw: DataFrame | None = None,
) -> DataFrame:
    """Reference-faithful outer bisection levels, distributed
    (BlandfordBlelloch.cpp:20-360 order_index/split_index/partition/
    order_cluster, studied not copied). Level-synchronous over the
    ``path`` key like the 2-means scaffold, but each cluster splits by
    the reference's own criterion:

    * sample: the <= ``sample_cap`` docs with smallest md5(doc_id) per
      path (the engine-reproducible stand-in for rand(), same as
      :func:`_bb_leaf_order`) — ONE window rank per level, partitioned
      by path (never a global sort);
    * split: one ``applyInPandas`` pass per path group runs the ACTUAL
      ``_prim_split`` over the sample. Clusters <= ``direct_cap``
      (sample == cluster) emit per-doc sides directly (split_index's
      direct branch); larger clusters emit the two sample-half centers
      of mass, unit-scaled, and EVERY doc assigns to the higher-cosine
      side with ties to side two (split_index's sampled branch);
      clusters <= ``min_seg`` pass through unsplit (order_index's
      R-L <= 20 stop);
    * fallback: a degenerate Prim split or a one-sided assignment mid-
      splits the cluster by incoming (doc_id) order — split_index's own
      fallback;
    * orientation: per path the halves' FULL centers of mass m1/m2 are
      compared against the inherited neighbor context (mL, mR) and
      swapped when cos(mL,m1)*cos(mR,m2) <= cos(mL,m2)*cos(mR,m1)
      (order_cluster); the context threads to children as (mL, m2) /
      (m1, mR), kept as a distributed (path, slot, term, val) frame —
      never collected, so depth is unbounded by driver memory.

    Documented deviations: term-less docs carry empty vectors (cos 0 ->
    side two, as the reference computes) but are absent from the mid-
    split fallback's incoming order; the direct branch receives docs in
    ascending doc_id order rather than the recursion's emitted order
    (the level-synchronous scaffold does not track intra-cluster order
    — final intra-leaf order comes from leaf_refine/Gray keys).
    """
    import pandas as pd
    from pyspark.sql import Window

    owns_raw = raw is None
    if owns_raw:
        raw = _term_weights(docs.select("doc_id", "text")).persist()
    md5o = F.md5(F.col("doc_id").cast("string"))
    # the incoming level-0 path is a literal; Catalyst folds a
    # foldable partitionBy to an EMPTY window spec (one global task).
    # doc_id*0 keeps the value while making the column data-dependent.
    state = state.select(
        "doc_id",
        (F.col("path") + F.col("doc_id") * 0).cast("long").alias("path"),
    )

    # initial neighbor context: com of the <=100 smallest-md5 docs,
    # installed as BOTH slots (order_index's init: stack starts
    # (ids, init, init)). TakeOrdered — distributed, no global window.
    init_ids = (
        docs.select("doc_id")
        .withColumn("_h", md5o)
        .orderBy("_h", "doc_id")
        .limit(100)
        .select("doc_id")
    )
    init_vec = (
        raw.join(F.broadcast(init_ids), "doc_id")
        .groupBy("term")
        .agg(F.sum("w").alias("val"))  # 1/n scale irrelevant under cos
    )
    ctx = init_vec.select(
        F.lit(0).cast("long").alias("path"),
        F.explode(F.array(F.lit("L"), F.lit("R"))).alias("slot"),
        "term",
        "val",
    ).localCheckpoint(eager=True)

    out_schema = (
        "path long, doc_id long, side int, term string, cwn double"
    )

    def level_split(pdf: "pd.DataFrame") -> "pd.DataFrame":
        path = int(pdf["path"].iloc[0])
        csize = int(pdf["csize"].iloc[0])
        # Spark hands group rows in shuffle order; sort so the float
        # sums inside _com/_cos accumulate identically every run
        pdf = pdf.sort_values(["doc_id", "term"])
        tvecs: dict[int, dict[str, float]] = {}
        for d, t, w in zip(pdf["doc_id"], pdf["term"], pdf["w"]):
            dv = tvecs.setdefault(int(d), {})
            if isinstance(t, str):
                dv[t] = float(w)
        cols = ["path", "doc_id", "side", "term", "cwn"]
        if csize <= min_seg:
            # pass-through cluster: no rows; downstream keeps side 0
            return pd.DataFrame(columns=cols)
        if csize <= direct_cap:
            # sample == cluster: the direct Prim branch, per-doc sides
            ids = sorted(tvecs)
            one, two = _prim_split(ids, tvecs, graph_tf_threshold)
            if not one or not two:
                mid = len(ids) // 2
                one, two = ids[:mid], ids[mid:]
            rows = [(path, d, 0, None, None) for d in one]
            rows += [(path, d, 1, None, None) for d in two]
            return pd.DataFrame(rows, columns=cols)
        # sampled branch: Prim over the md5-ordered sample, emit the
        # two sample-half centers of mass unit-scaled for assignment
        s_ids = sorted(tvecs, key=_md5v)
        s1, s2 = _prim_split(s_ids, tvecs, graph_tf_threshold)
        if not s1 or not s2:
            # marker: downstream mid-splits the full cluster
            return pd.DataFrame(
                [(path, None, -1, None, None)], columns=cols
            )
        rows = []
        norms = {0: 0.0, 1: 0.0}
        for side, part in ((0, s1), (1, s2)):
            c = _com(part, tvecs)
            norm = sum(v * v for v in c.values()) ** 0.5
            norms[side] = norm
            if norm <= 0.0:
                continue
            rows += [(path, None, side, t, v / norm) for t, v in c.items()]
        if norms[0] <= 0.0:
            # zero-norm side ONE: strict > can never send a doc there,
            # so _split_cluster ends with side one empty and mid-splits
            # — emit the marker directly
            return pd.DataFrame(
                [(path, None, -1, None, None)], columns=cols
            )
        # zero-norm side TWO needs no marker: _split_cluster still
        # assigns cos(d, m1) > 0 docs to side one and ties (cos 0 vs
        # the zero vector) to side two — exactly what the downstream
        # coalesce(side, 1) tie rule computes when only side-0 centroid
        # rows exist; a then-empty side hits the shared fallback like
        # the reference's own post-assignment mid-split check
        return pd.DataFrame(rows, columns=cols)

    try:
        for _level in range(depth):
            sizes = state.groupBy("path").agg(F.count("*").alias("csize"))
            # sample = the <=sample_cap smallest-md5 docs per path.
            # A naive per-path window ranks every doc of the cluster in
            # ONE task (level 0 = the whole corpus); md5 is uniform, so
            # the winners all but surely sit in the smallest
            # 8*sample_cap/csize fraction of the hash space — pre-filter
            # on that threshold (P[missing one] ~ exp(-Θ(sample_cap)),
            # Chernoff on Binomial(csize, 8k/csize) < k), THEN rank the
            # ~8*sample_cap survivors per path. The rank itself orders
            # by the full hex digest, so the filter (a numeric prefix
            # superset) never changes which docs win.
            hv = F.conv(F.substring(F.col("_h"), 1, 15), 16, 10).cast(
                "double"
            )
            frac = F.least(
                F.lit(1.0),
                F.lit(8.0 * sample_cap) / F.col("csize").cast("double"),
            )
            wnd = Window.partitionBy("path").orderBy("_h", "doc_id")
            samp = (
                state.join(sizes, "path")
                .withColumn("_h", md5o)
                .where(hv <= frac * float(16**15))
                .withColumn("_rn", F.row_number().over(wnd))
                .where(F.col("_rn") <= sample_cap)
                .select("doc_id", "path")
            )
            srows = (
                samp.join(raw, "doc_id", "left").join(sizes, "path")
            )
            split_out = (
                srows.groupBy("path")
                .applyInPandas(level_split, out_schema)
                .persist()
            )
            direct = split_out.where(F.col("doc_id").isNotNull()).select(
                "path", "doc_id", "side"
            )
            cent = split_out.where(F.col("term").isNotNull()).select(
                "path", "side", "term", "cwn"
            )
            markers = (
                split_out.where(F.col("side") == -1)
                .select("path")
                .distinct()
            )
            # sampled-branch assignment: cos compare against unit
            # centroids (|d| cancels; unit doc vectors reuse `tf`),
            # strict > to side one — ties take side two like the
            # reference's split_index
            tfp = tf.join(state, "doc_id")
            per_side = (
                tfp.join(cent, ["path", "term"])
                .groupBy("doc_id", "path", "side")
                .agg(F.sum(F.col("uw") * F.col("cwn")).alias("s"))
            )
            big_choice = (
                per_side.groupBy("doc_id", "path")
                .agg(
                    F.max(F.when(F.col("side") == 0, F.col("s"))).alias("s0"),
                    F.max(F.when(F.col("side") == 1, F.col("s"))).alias("s1"),
                )
                .select(
                    "path",
                    "doc_id",
                    F.when(
                        F.coalesce(F.col("s0"), F.lit(0.0))
                        > F.coalesce(F.col("s1"), F.lit(0.0)),
                        0,
                    )
                    .otherwise(1)
                    .alias("side"),
                )
            )
            choice = direct.unionByName(big_choice)
            small = sizes.where(F.col("csize") <= min_seg).select(
                "path", F.lit(True).alias("_small")
            )
            assigned = (
                state.join(choice, ["path", "doc_id"], "left")
                .join(small, "path", "left")
                .select(
                    "path",
                    "doc_id",
                    F.when(F.col("_small"), 0)
                    .otherwise(F.coalesce(F.col("side"), F.lit(1)))
                    .alias("side"),
                )
            )
            # fallback: marker paths and one-sided assignments mid-split
            # by incoming (doc_id) order — split_index's own fallback
            per_path = assigned.groupBy("path").agg(
                F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n0"),
                F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n1"),
            )
            failed = (
                per_path.join(small, "path", "left_anti")
                .where((F.col("n0") == 0) | (F.col("n1") == 0))
                .select("path")
                .unionByName(markers)
                .distinct()
            )
            # full-cluster rank, one task per FAILED path — acceptable
            # because fallback only fires on degenerate clusters (no
            # similarity structure at all); healthy data never lands
            # here
            wnd2 = Window.partitionBy("path").orderBy("doc_id")
            fb = (
                assigned.join(failed, "path", "leftsemi")
                .join(sizes, "path")
                .withColumn("_rn", F.row_number().over(wnd2))
                .select(
                    "path",
                    "doc_id",
                    F.when(
                        F.col("_rn") <= F.floor(F.col("csize") / 2), 0
                    )
                    .otherwise(1)
                    .alias("fside"),
                )
            )
            assigned = (
                assigned.join(fb, ["path", "doc_id"], "left")
                .select(
                    "path",
                    "doc_id",
                    F.coalesce(F.col("fside"), F.col("side")).alias("side"),
                )
                .localCheckpoint(eager=True)
            )
            split_out.unpersist()
            # orientation (order_cluster): halves' FULL centers of mass
            # vs the inherited (mL, mR); cos products compare, <= swaps
            H = (
                raw.join(assigned, "doc_id")
                .groupBy("path", "side", "term")
                .agg(F.sum("w").alias("hval"))
            )
            dots = (
                ctx.join(H, ["path", "term"])
                .groupBy("path", "slot", "side")
                .agg(F.sum(F.col("val") * F.col("hval")).alias("dot"))
            )
            nc = ctx.groupBy("path", "slot").agg(
                F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nc")
            )
            nh = H.groupBy("path", "side").agg(
                F.sqrt(F.sum(F.col("hval") * F.col("hval"))).alias("nh")
            )
            cosdf = (
                dots.join(nc, ["path", "slot"])
                .join(nh, ["path", "side"])
                .select(
                    "path",
                    "slot",
                    "side",
                    F.when(
                        (F.col("nc") > 0) & (F.col("nh") > 0),
                        F.col("dot") / (F.col("nc") * F.col("nh")),
                    )
                    .otherwise(0.0)
                    .alias("c"),
                )
            )

            def _cc(slot: str, side: int):
                return F.coalesce(
                    F.max(
                        F.when(
                            (F.col("slot") == slot)
                            & (F.col("side") == side),
                            F.col("c"),
                        )
                    ),
                    F.lit(0.0),
                )

            swaps = cosdf.groupBy("path").agg(
                (
                    _cc("L", 0) * _cc("R", 1) <= _cc("L", 1) * _cc("R", 0)
                ).alias("swap")
            )
            # paths with no cosine rows at all: 0*0 <= 0*0 -> swap
            assigned = (
                assigned.join(swaps, "path", "left")
                .select(
                    "doc_id",
                    "path",
                    F.when(
                        F.coalesce(F.col("swap"), F.lit(True)),
                        1 - F.col("side"),
                    )
                    .otherwise(F.col("side"))
                    .alias("side"),
                )
            )
            # small (pass-through) clusters keep side 0 regardless of
            # the vacuous swap so the whole cluster stays together
            assigned = (
                assigned.join(small, "path", "left")
                .select(
                    "doc_id",
                    "path",
                    F.when(F.col("_small"), 0)
                    .otherwise(F.col("side"))
                    .alias("side"),
                )
                .localCheckpoint(eager=True)
            )
            # thread the context to the children: one -> (mL, m2),
            # two -> (m1, mR); m1/m2 are the POST-swap halves' coms;
            # pass-through clusters keep their context at path*2
            Hs = (
                H.join(swaps, "path", "left")
                .select(
                    "path",
                    F.when(
                        F.coalesce(F.col("swap"), F.lit(True)),
                        1 - F.col("side"),
                    )
                    .otherwise(F.col("side"))
                    .alias("side"),
                    "term",
                    F.col("hval").alias("val"),
                )
                .join(small, "path", "left_anti")
            )
            ctx_small = ctx.join(small, "path", "leftsemi").select(
                (F.col("path") * 2).alias("path"), "slot", "term", "val"
            )
            ctx_split = ctx.join(small, "path", "left_anti")
            ctx = (
                ctx_split.where(F.col("slot") == "L")
                .select((F.col("path") * 2).alias("path"), "slot", "term", "val")
                .unionByName(
                    Hs.where(F.col("side") == 1).select(
                        (F.col("path") * 2).alias("path"),
                        F.lit("R").alias("slot"),
                        "term",
                        "val",
                    )
                )
                .unionByName(
                    Hs.where(F.col("side") == 0).select(
                        (F.col("path") * 2 + 1).alias("path"),
                        F.lit("L").alias("slot"),
                        "term",
                        "val",
                    )
                )
                .unionByName(
                    ctx_split.where(F.col("slot") == "R").select(
                        (F.col("path") * 2 + 1).alias("path"),
                        "slot",
                        "term",
                        "val",
                    )
                )
                .unionByName(ctx_small)
                .localCheckpoint(eager=True)
            )
            state = assigned.select(
                "doc_id",
                (F.col("path") * 2 + F.col("side")).alias("path"),
            ).localCheckpoint(eager=True)
    finally:
        if owns_raw:
            raw.unpersist()
    return state


def reorder_bisect(
    docs: DataFrame,
    depth: int = 4,
    iters: int = 2,
    centroid_terms: int = 256,
    leaf_bits: int = 16,
    leaf_refine: bool = False,
    leaf_cap: int = 1000,
    outer: str = "kmeans",
    graph_tf_threshold: float = 10.0,
    direct_cap: int = 500,
    sample_cap: int = 1000,
    min_seg: int = 21,
) -> DataFrame:
    """Recursive cosine bisection, the faithful re-expression of the
    reference's Blandford–Blelloch pipeline (R1-R6,
    BlandfordBlelloch.cpp:20-230: sample -> similarity graph ->
    2-way partition -> per-side center of mass -> assign every doc to
    the nearer centroid by cosine -> recurse).

    Spark-first shape: LEVEL-SYNCHRONOUS — every cluster at a level is
    split in the SAME jobs, vectorized by a ``path`` key (the bit
    string of splits so far), so the work per level is a constant
    number of shuffles regardless of cluster count. Two outer split
    criteria:

    ``outer="kmeans"`` (default, the cheap scaffold):

    * seeds: per path, the docs with min/max md5(doc_id) (deterministic
      stand-in for the reference's rand() sample);
    * ``iters`` Lloyd rounds of 2-means under cosine: assign each doc
      to the higher-dot-product side (unit doc vectors x unit-scaled
      centroids), recompute each side's center of mass, truncated to
      the ``centroid_terms`` heaviest terms (bounds the join);
    * path extends by the winning side's bit; state is
      localCheckpoint-ed per level so lineage stays flat.

    ``outer="prim"`` (the reference-faithful criterion at EVERY level,
    see :func:`_prim_outer_levels`): per path, the reference's actual
    sampled similarity graph + Prim half-growth partition + sample-half
    center-of-mass assignment (ties to side two) + neighbor-oriented
    halves — ``iters``/``centroid_terms`` are ignored.

    Final ids: dense ranks over (path, simhash-Gray, orig_doc_id) — the
    Gray key orders docs *within* a leaf cluster, exactly the role the
    reference's recursion-to-singletons plays. Docs whose text has no
    terms keep sentinel keys and are preserved.

    Cost (kmeans): depth x (iters+1) bounded shuffles over n_docs rows
    — no driver-side recursion, no O(n^2) graph, valid at any corpus
    size. The prim criterion adds per level one ~sample_cap-per-path
    applyInPandas pass and the orientation joins (bounded by the tf
    table size).
    """
    if outer not in ("kmeans", "prim"):
        raise ValueError(f"outer must be 'kmeans' or 'prim', got {outer!r}")
    if iters < 1:
        # iters=0 would leave the per-level assignment undefined
        # (choice never computed) and crash in the join below
        raise ValueError(f"iters must be >= 1, got {iters}")
    state = docs.select("doc_id").withColumn("path", F.lit(0).cast("long"))
    # ONE corpus tokenize+tf pass feeds the unit weights here, the
    # prim outer levels, and the leaf refinement (each used to re-run
    # _term_weights over the whole corpus)
    raw_tf = _term_weights(docs.select("doc_id", "text")).persist()
    try:
        tf = _unit_term_weights(
            docs.select("doc_id", "text"), raw=raw_tf
        ).persist()
        seed_h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
        try:
            if outer == "prim":
                state = _prim_outer_levels(
                    docs,
                    state,
                    tf,
                    depth,
                    graph_tf_threshold=graph_tf_threshold,
                    direct_cap=direct_cap,
                    sample_cap=sample_cap,
                    min_seg=min_seg,
                    raw=raw_tf,
                )
            for _level in range(depth if outer == "kmeans" else 0):
                tfp = tf.join(state, "doc_id")
                seeds = (
                    state.withColumn("_h", seed_h)
                    .groupBy("path")
                    .agg(
                        F.min_by("doc_id", "_h").alias("d0"),
                        F.max_by("doc_id", "_h").alias("d1"),
                    )
                )
                side_seeds = seeds.select(
                    "path", F.explode(F.array(
                        F.struct(F.lit(0).alias("side"), F.col("d0").alias("doc_id")),
                        F.struct(F.lit(1).alias("side"), F.col("d1").alias("doc_id")),
                    )).alias("s"),
                ).select("path", F.col("s.side").alias("side"), F.col("s.doc_id").alias("doc_id"))
                # unit seed vectors ARE the initial centroids
                cent = F.broadcast(side_seeds).join(tf, "doc_id").select(
                    "path", "side", "term", F.col("uw").alias("cwn")
                )
                choice = None
                for _it in range(iters):
                    scores = (
                        tfp.join(cent, ["path", "term"])
                        .groupBy("doc_id", "path", "side")
                        .agg(F.sum(F.col("uw") * F.col("cwn")).alias("s"))
                    )
                    # higher cosine wins; ties (and no-overlap docs, via the
                    # left join below) deterministically take side 0
                    choice = scores.groupBy("doc_id").agg(
                        F.max(F.struct(F.col("s"), (-F.col("side")).alias("ns")))
                        .alias("m")
                    ).select("doc_id", (-F.col("m.ns")).cast("int").alias("side"))
                    if _it == iters - 1:
                        break
                    assigned = tfp.join(choice, "doc_id")
                    sums = assigned.groupBy("path", "side", "term").agg(
                        F.sum("uw").alias("sw")
                    )
                    from pyspark.sql import Window

                    w = Window.partitionBy("path", "side").orderBy(
                        F.desc("sw"), F.asc("term")
                    )
                    top = sums.withColumn("_r", F.row_number().over(w)).where(
                        F.col("_r") <= centroid_terms
                    )
                    cn = top.groupBy("path", "side").agg(
                        F.sqrt(F.sum(F.col("sw") * F.col("sw"))).alias("cn")
                    )
                    cent = top.join(cn, ["path", "side"]).select(
                        "path", "side", "term",
                        (F.col("sw") / F.col("cn")).alias("cwn"),
                    )
                state = (
                    state.join(choice, "doc_id", "left")
                    .select(
                        "doc_id",
                        (
                            F.col("path") * 2 + F.coalesce(F.col("side"), F.lit(0))
                        ).alias("path"),
                    )
                    .localCheckpoint(eager=True)
                )
        finally:
            tf.unpersist()
        ranks = None
        if leaf_refine:
            # Prim-faithful leaf refinement (stretch item): inside leaves
            # of <= leaf_cap docs, run the reference's ACTUAL sampled
            # similarity graph + Prim half-growth + oriented recursion
            # (_bb_leaf_order) — one applyInPandas pass over (path) groups,
            # keeping the level-synchronous outer loop as the distributed
            # scaffold. Oversized leaves (wrong depth for the corpus) and
            # term-less docs fall back to the Gray order below.
            import pandas as pd  # noqa: F811 (executor-side)

            raw = raw_tf
            small = (
                state.groupBy("path")
                .count()
                .where(F.col("count") <= leaf_cap)
                .select("path")
            )
            rows = raw.join(state, "doc_id").join(F.broadcast(small), "path")

            def refine(pdf: "pd.DataFrame") -> "pd.DataFrame":
                # sort like level_split does: the per-doc term-dict
                # insertion order (and thus every float accumulation in
                # _com/_cos) must not depend on shuffle arrival order, or
                # near-tie splits flip run to run
                pdf = pdf.sort_values(["doc_id", "term"], kind="mergesort")
                tvecs: dict[int, dict[str, float]] = {}
                for d, t, w in zip(pdf["doc_id"], pdf["term"], pdf["w"]):
                    tvecs.setdefault(int(d), {})[t] = float(w)
                ids = sorted(tvecs)
                order = _bb_leaf_order(
                    ids,
                    tvecs,
                    graph_tf_threshold=graph_tf_threshold,
                    direct_cap=direct_cap,
                    sample_cap=sample_cap,
                    min_seg=min_seg,
                )
                return pd.DataFrame(
                    {
                        "doc_id": order,
                        "leaf_rank": list(range(len(order))),
                    }
                )

            ranks = rows.groupBy("path").applyInPandas(
                refine, "doc_id long, leaf_rank long"
            )

        sh = simhash(docs.select("doc_id", "text"), bits=leaf_bits)
        gray_val = F.expr("coalesce(simhash, 0L) ^ (coalesce(simhash, 0L) >> 1)")
        keyed = docs.join(state, "doc_id").join(sh, "doc_id", "left")
        if ranks is not None:
            # refined docs order by their Prim rank; everything else
            # (oversized leaves, term-less docs) sorts after them by the
            # Gray key, offset past any possible rank
            keyed = keyed.join(ranks, "doc_id", "left")
            leaf_key = F.coalesce(
                F.col("leaf_rank"), F.lit(1 << 40) + gray_val
            ).alias("leaf_key")
        else:
            leaf_key = gray_val.alias("leaf_key")
        keyed = keyed.select(
            F.col("doc_id").alias("orig_doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
            "path",
            leaf_key,
        )
        out = assign_doc_ids(keyed, order_col=["path", "leaf_key", "orig_doc_id"])
        return out.drop("path", "leaf_key")
    finally:
        # the leaf refinement reads raw_tf; assign_doc_ids checkpoints
        # eagerly, so that action has run it by now
        raw_tf.unpersist()


def compression_stats(spark, index_dir: str) -> dict:
    """Total encoded payload bytes + chunk count of a built index."""
    chunks = spark.read.parquet(f"{index_dir}/chunks")
    row = chunks.agg(
        F.sum(F.length("payload")).alias("payload_bytes"),
        F.sum(F.length("dls")).alias("dl_bytes"),
        F.count("*").alias("n_chunks"),
    ).collect()[0]
    return {
        "payload_bytes": int(row["payload_bytes"] or 0),
        "dl_bytes": int(row["dl_bytes"] or 0),
        "n_chunks": int(row["n_chunks"]),
    }
