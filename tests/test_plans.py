"""Physical-plan quality gates: the plans we'd want at 100 TB, asserted
at test scale. Catches regressions where a filter stops reaching the
scan, a broadcast turns into a shuffle join, or a map-only stage grows
an exchange."""

import pytest
from pyspark.sql import functions as F

from search_engine_spark.build import IndexBuilder, chunk_postings
from search_engine_spark.corpus import load_documents
from search_engine_spark.query import QueryEngine
from search_engine_spark.runtime import ensure_shipped

from conftest import SF_DIR


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    ensure_shipped(spark)
    d = str(tmp_path_factory.mktemp("plan_idx"))
    IndexBuilder(spark, d, n_salts=2, bucket_count=4).build(
        load_documents(spark, SF_DIR)
    )
    return d


def test_chunks_scan_prunes_partitions_and_pushes_term_filter(spark, built):
    qe = QueryEngine(spark, built)
    df = qe._chunks(["data", "spark"])
    p = plan_str(df)
    # bucket is a hive partition column -> partition pruning, not a filter
    assert "PartitionFilters" in p and "bucket" in p
    # term filter must reach the parquet scan (row-group stats pruning)
    assert "PushedFilters" in p
    assert "In(term" in p or "EqualTo(term" in p


def test_lexicon_scan_projects_only_needed_columns(spark, built):
    lex = (
        spark.read.parquet(f"{built}/lexicon")
        .where(F.col("term") == "data")
        .select("term", "df")
    )
    p = plan_str(lex)
    assert "ReadSchema" in p
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "df" in read_schema and "max_doc_id" not in read_schema


def spark_scorer(monkeypatch):
    """Force the Spark final job: below METADATA_CAP search() and
    batch_search score on the driver and return a local frame."""
    import search_engine_spark.query as query_mod

    monkeypatch.setattr(query_mod, "LOCAL_THETA", False)


def test_batch_search_broadcasts_query_map(spark, built, monkeypatch):
    spark_scorer(monkeypatch)
    qe = QueryEngine(spark, built)
    df = qe.batch_search([(0, "data spark"), (1, "query row")])
    p = plan_str(df)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # per-query top-k is a bounded window, no global sort of all postings
    assert "WindowGroupLimit" in p or "Window" in p


def test_search_topk_uses_take_ordered(spark, built, monkeypatch):
    spark_scorer(monkeypatch)
    qe = QueryEngine(spark, built)
    df = qe.search("data spark", mode="disjunctive", k=10)
    assert "TakeOrderedAndProject" in plan_str(df)


def test_chunk_postings_single_exchange(spark, built):
    """The chunk encode stage must shuffle exactly once (by term+salt):
    re-sorting or re-partitioning afterwards would double shuffle bytes
    at 100 TB."""
    postings = spark.read.parquet(f"{built}/postings")
    df = chunk_postings(postings, 10_000, n_salts=2)
    p = plan_str(df)
    assert p.count("Exchange") == 1


def test_postings_stage_is_map_only_and_jvm_only(spark, built):
    """Posting rows unpack from the tokens stage's (uterms, utfs) via a
    JVM explode — no Exchange and no Python evaluation anywhere before
    the parquet write (tf was counted in the tokenize pass)."""
    from pyspark.sql import functions as F

    tokens = spark.read.parquet(f"{built}/tokens")
    df = (
        tokens.select(
            "doc_id",
            "doc_length",
            F.explode(F.arrays_zip("uterms", "utfs")).alias("p"),
        )
        .select(
            F.col("p.uterms").alias("term"),
            "doc_id",
            "doc_length",
            F.col("p.utfs").cast("long").alias("tf"),
        )
    )
    p = plan_str(df)
    assert "Exchange" not in p
    assert "MapInPandas" not in p and "EvalPython" not in p


def test_assign_cells_is_windowless_hash_agg(spark):
    """IVF cell assignment over N*n_cells rows must be a hash aggregate
    (max_by), never a row_number window (sort shuffle of the fan-out)."""
    from search_engine_spark.ann import assign_cells, default_codebook

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = assign_cells(emb, default_codebook(emb, 4))
    p = plan_str(df)
    assert "Window" not in p
    # map-side partial max_by collapses the N*n_cells fan-out BEFORE the
    # exchange (a window would shuffle+sort every fan-out row)
    assert "partial_max_by" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_auto_n_salts_scales_with_corpus():
    from search_engine_spark.build import POSTINGS_PER_SALT, auto_n_salts

    # tiny corpora don't fragment (1 salt == reference global chunking)
    assert auto_n_salts(1000, min_salts=8) == 1
    # mid-size: parallelism floor wins (clipped by fragmentation cap)
    assert auto_n_salts(2_000_000, min_salts=32) == 32
    base = auto_n_salts(100 * POSTINGS_PER_SALT, min_salts=8)
    assert base == 100
    # 10x the corpus -> 10x the salts (bounded per-task memory)
    assert auto_n_salts(1000 * POSTINGS_PER_SALT, min_salts=8) == 10 * base


def test_wholestage_codegen_covers_relational_ops(spark, built, monkeypatch):
    """The scoring aggregation (relational part) stays inside
    WholeStageCodegen spans — no interpreted row processing."""
    spark_scorer(monkeypatch)
    qe = QueryEngine(spark, built)
    df = qe.search("data spark", mode="disjunctive", k=10)
    df.collect()  # AQE only materializes codegen spans in the final plan
    p = plan_str(df)
    # '*(n)' prefixes mark WholeStageCodegen stages in the final plan
    assert "*(" in p and "HashAggregate" in p


def test_tokens_stage_is_jvm_only(spark):
    """The build's tokens stage (tokenize + per-doc tf) must contain no
    Python evaluation: split/filter/array_sort/boundary-diff are all
    Catalyst expressions, so the hottest stage of the build never
    crosses the JVM<->Python Arrow channel."""
    from search_engine_spark.tokenizer import tokenize_col, unique_tf_cols

    docs = load_documents(spark, SF_DIR)
    ut, tf = unique_tf_cols(F.col("_srt"))
    tokens = docs.select(
        "doc_id", "url", "text",
        F.array_sort(tokenize_col(F.col("text"))).alias("_srt"),
    ).select(
        "doc_id", "url", "text",
        F.size("_srt").cast("long").alias("doc_length"),
        ut.alias("uterms"), tf.alias("utfs"),
    )
    p = plan_str(tokens)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in p, marker
    assert "Exchange" not in p  # map-only: no shuffle before checkpoint


def test_simhash_codegen_single_shuffle(spark):
    """SimHash: fully whole-stage-codegen (no Python eval, no
    interpreted higher-order lambdas except the tokenizer's filter),
    exactly ONE Exchange whose partial aggregation collapses map-side
    to one 16-column row per doc — smaller than minhash's accepted
    16-rows/doc shuffle. (The round-2 zero-Exchange shape paid for
    shuffle-freedom with 16 interpreted aggregate() folds per doc and
    measured 1.6-3x slower cold at sf0.1.)"""
    from search_engine_spark.dedup import simhash

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    df = simhash(docs)
    p = plan_str(df)
    assert p.count("Exchange") == 1, p.count("Exchange")
    assert "partial_" in p or "HashAggregate" in p  # map-side combine
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in p, marker
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("lambdafunction") <= 1, analyzed


def test_shingle_stream_is_map_only_codegen(spark):
    """The raw shingle stream (minhash/LSH input) must be map-only AND
    free of interpreted higher-order lambdas: explode + element_at +
    concat_ws all sit inside whole-stage codegen. (Round 2's
    transform()+array_distinct shape evaluated interpreted and
    measured 1.6x slower end-to-end; dedup is unnecessary because the
    downstream min-agg is idempotent.)"""
    from search_engine_spark.dedup import shingle_stream, tokens_df

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    df = shingle_stream(tokens_df(docs))
    p = plan_str(df)
    assert "Exchange" not in p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in p, marker
    # no interpreted HOFs in the stream (transform/aggregate/filter
    # lambdas break codegen); the tokenizer's filter() is the one
    # allowed exception, asserted by counting lambdafunction uses
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("lambdafunction") <= 1, analyzed


def test_minhash_single_shuffle_jvm_only(spark):
    """MinHash signatures: exactly one shuffle (the slot groupBy, whose
    partial agg collapses each partition to <=16 rows/doc pre-move);
    md5 stays in codegen projections, no Python."""
    from search_engine_spark.dedup import minhash_signatures

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    p = plan_str(minhash_signatures(docs))
    assert p.count("Exchange") == 1, p.count("Exchange")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in p, marker


def _file_scans(df):
    """Executed-plan FileSourceScan nodes (AQE/query-stage aware),
    for reading actual scan metrics (files listed, rows output) after
    an action ran."""
    out = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if "QueryStageExec" in cls:
            walk(node.plan())
            return
        if cls == "ReusedExchangeExec":
            walk(node.child())
            return
        if "FileSourceScan" in cls:
            out.append(node)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _metric(node, key):
    o = node.metrics().get(key)
    return o.get().value() if o.isDefined() else None


def test_snippets_doc_fetch_prunes_scan(spark, tmp_path):
    """The snippets doc fetch must be a point lookup, not a corpus
    scan: an IN(doc_id) predicate reaches the doc_table parquet scan,
    and on a multi-file id-clustered index row-group stats prune the
    read to a bounded row count (the reference's per-result point
    lookups, MongoService.cpp:27-48 — at 100 TB the old unpruned probe
    was a full-corpus read to fetch 10 rows)."""
    d = str(tmp_path / "snip_idx")
    docs = load_documents(spark, SF_DIR).repartitionByRange(8, "doc_id")
    IndexBuilder(spark, d, n_salts=2, bucket_count=4).build(docs)
    qe = QueryEngine(spark, d)
    topk = qe.search("data spark", k=5)
    sn = qe.snippets("data spark", topk)
    p = plan_str(sn)
    assert "In(doc_id" in p or "EqualTo(doc_id" in p, p
    rows = sn.collect()
    assert 0 < len(rows) <= 5
    scans = [
        s
        for s in _file_scans(sn)
        if "doc_id" in s.toString() and "text" in s.toString().split("ReadSchema")[0]
    ]
    assert scans, "doc_table scan not found in executed plan"
    n_total = load_documents(spark, SF_DIR).count()
    for s in scans:
        out_rows = _metric(s, "numOutputRows")
        # 5 hits over 8 range files of ~n/8 rows each: at most 5 file
        # row-groups survive the pushed filter
        assert out_rows is not None and out_rows <= 5 * (n_total // 8 + 1), (
            out_rows,
            n_total,
        )


def test_ngram_jaccard_single_shingle_lineage(spark):
    """ngram_jaccard_pairs must materialize the tokenize+shingle
    pipeline exactly once: the per-shingle bucket aggregation is
    persisted and every downstream consumer (per-doc counts, shared
    pair counts) reads the cache — the round-3 self-join shape
    recomputed the shingle lineage ~6x."""
    from search_engine_spark.dedup import ngram_jaccard_pairs

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    df = ngram_jaccard_pairs(docs, max_df=50)
    p = plan_str(df)
    assert "InMemoryTableScan" in p
    # every corpus read goes through the cache: the outer plan owns no
    # direct parquet scan of the documents table
    outer = p.split("InMemoryRelation")[0]
    assert "FileScan" not in outer, outer
    rows = df.collect()
    assert rows is not None


def test_exact_duplicates_reuses_hash_lineage(spark):
    """exact_duplicates persists (doc_id, md5) so the corpus scan +
    hash runs once, feeding both the canonical-id agg and the join
    probe."""
    from search_engine_spark.dedup import exact_duplicates

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    df = exact_duplicates(docs)
    p = plan_str(df)
    assert "InMemoryTableScan" in p
    outer = p.split("InMemoryRelation")[0]
    assert "FileScan" not in outer, outer


def test_docmajor_encode_single_exchange_arrow_native(spark, built):
    """The default chunk encoder (doc-major local inversion) must plan
    exactly ONE exchange (the salt range partitioning) and run its
    Python stage through the Arrow-native channel (mapInArrow) — the
    mapInPandas twin boxed every posting's term into a Python str and
    was the one sub-linear build stage at 1-to-4-core scaling."""
    from search_engine_spark.build import chunk_tokens_docmajor

    tokens = spark.read.parquet(f"{built}/tokens")
    df = chunk_tokens_docmajor(tokens, 1000, n_salts=4)
    p = plan_str(df)
    assert p.count("Exchange") == 1, p.count("Exchange")
    assert "MapInArrow" in p or "PythonMapInArrow" in p, p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_phrase_search_postings_scan_is_point_access(spark, tmp_path):
    """phrase_search's positional side-table scan must partition-prune
    on bucket and push the term IN filter to parquet — a point access,
    never a corpus-wide postings scan (the property that keeps phrase
    queries df-bounded at 100 TB)."""
    import numpy as np

    d = str(tmp_path / "pos_idx")
    IndexBuilder(
        spark, d, n_salts=2, bucket_count=4, store_positions=True
    ).build(load_documents(spark, SF_DIR))
    qe = QueryEngine(spark, d)
    df = qe.phrase_search("part filter", dtype=np.float64)
    p = plan_str(df)
    assert "PartitionFilters" in p and "bucket" in p
    assert "PushedFilters" in p
    assert "In(term" in p or "EqualTo(term" in p
    # top-k stays TakeOrderedAndProject (no global sort at scale)
    assert "TakeOrderedAndProject" in p


def test_phrase_pivot_prunes_on_rarest_term(spark, tmp_path):
    """The positional pivot must semi-join every term's postings
    against the RAREST term's doc set before the groupBy(doc_id)
    exchange — bounding the shuffle by df_min, not sum(df). On a
    phrase containing a stop word (df = corpus size) the difference
    at web scale is ~the whole corpus. Below KEYS_BROADCAST_CAP the
    rare doc set broadcasts, so the prune is map-side."""
    import numpy as np

    rows = [(i, f"u{i}", f"the filler{i} the words") for i in range(60)]
    rows.append((60, "u60", "the zanzibar stone"))  # adjacent match
    rows.append((61, "u61", "zanzibar drum the"))  # both terms, not adjacent
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    d = str(tmp_path / "rare_idx")
    IndexBuilder(
        spark, d, n_salts=2, bucket_count=4, store_positions=True
    ).build(docs, resume=False)
    qe = QueryEngine(spark, d)
    df = qe.phrase_search("the zanzibar", dtype=np.float64)
    p = plan_str(df)
    # the rare-term prune is the only join in the plan: a broadcast
    # LEFT SEMI on doc_id upstream of the pivot's hash aggregate
    assert "LeftSemi" in p, p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p
    got = [r["doc_id"] for r in df.collect()]
    assert got == [60]
    # proximity shares the same candidate front half
    prox = qe.proximity_search("the zanzibar", window=3, dtype=np.float64)
    assert "LeftSemi" in plan_str(prox)
    assert sorted(r["doc_id"] for r in prox.collect()) == [60, 61]


def test_decontaminate_broadcasts_benchmark_side(spark):
    """decontaminate must broadcast the benchmark shingle set so the
    corpus-side shingle stream never shuffles on shingle (the premise
    of the operator's 10^12-doc plan shape); broadcast_bench=False is
    the explicit shuffle-join fallback."""
    from pyspark.sql import functions as F

    from search_engine_spark.dedup import decontaminate

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    corpus = docs.where(F.col("doc_id") % 25 != 0)
    p = plan_str(decontaminate(corpus, bench, shingle_n=3))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p
    # broadcast_bench=False is NOT plan-asserted: at test scale AQE
    # auto-broadcasts the small side anyway (its equality with the
    # hinted path is covered in test_dedup_ann); the knob exists for
    # suites past spark.sql.autoBroadcastJoinThreshold at real scale.


def test_span_dedup_census_is_windowless_partial_agg(spark):
    """span_dedup's duplicate-gram census must be map-side-combinable
    hash aggregation (partial agg under every exchange) with no window
    anywhere — the reconstruction is an index-filter over the token
    array, not a per-token row_number sort."""
    from search_engine_spark.dedup import span_dedup

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    p = plan_str(span_dedup(docs, n=5, min_dup=2))
    assert "Window" not in p
    # gram census: distinct(gram, doc) + per-gram count both partial-agg
    assert "partial" in p.lower()
    # two gram-keyed exchanges max (distinct + census); the cover agg
    # and joins key on doc_id
    assert p.count("Exchange hashpartitioning(gram") <= 2, p


def test_lm_score_broadcasts_scalar_not_vocab(spark):
    """lm_score's corpus-total joins back as a broadcast (single-row
    nested-loop), while the vocabulary census itself is never forced
    into a broadcast exchange by the operator — at web scale the vocab
    exceeds broadcast limits, so the term join must stay a shuffle
    join AQE is free to re-plan."""
    from search_engine_spark.textstats import lm_score

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    p = plan_str(lm_score(docs))
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p, p


def test_semantic_dedup_windowless_broadcast_assignment(spark):
    """semantic_dedup: centroid assignment is the broadcast max_by
    hash-agg (no window), and the within-cell self-join introduces no
    window either — per-task memory stays bounded by cell size."""
    from search_engine_spark.ann import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan_str(semantic_dedup(emb, n_cells=4, tau=0.4))
    assert "Window" not in p
    assert "partial_max_by" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_prefix_expansion_pushes_startswith(spark, built):
    """expand_prefix's lexicon read must push the StartsWith filter to
    the parquet scan (term-sorted files -> row-group pruning) and take
    only the planning columns — at a 10^9-term web vocabulary this is
    the difference between a stats-pruned point-ish read and a full
    lexicon materialization per wildcard query."""
    qe = QueryEngine(spark, built)
    df = (
        qe._stage_df("lexicon")
        .where(F.col("term").startswith("s"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(4)
        .select("term", "df", "n_chunks", "min_doc_id", "max_doc_id")
    )
    p = plan_str(df)
    assert "StringStartsWith(term,s)" in p, p
    assert "TakeOrderedAndProject" in p, p
    # and the real API agrees with the plan-audited shape
    exp = qe.expand_prefix("s", 4)
    assert 0 < len(exp) <= 4 and all(t.startswith("s") for t in exp)
