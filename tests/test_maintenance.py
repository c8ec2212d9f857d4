"""Tombstone deletes, physical compaction, and shard-index merging
(maintenance.py) against the pure-Python oracle on the real sf0.001
corpus.

Semantics under test (maintenance.py module doc):
* tombstoned docs vanish from every query path at zero rebuild cost,
  while N/avgdl/df stay STALE (Lucene deleted-docs semantics) — the
  surviving docs' scores are bit-identical to pre-delete;
* compaction re-derives stats, so a compacted index answers exactly
  like a fresh build over the surviving corpus;
* merging shard indexes answers exactly like one build over the union,
  with chunk payload bytes preserved (or prefix-rewritten) rather than
  re-encoded wherever deletes didn't touch them.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark import codecs, maintenance
from search_engine_spark.build import IndexBuilder, read_stage_parquet
from search_engine_spark.corpus import load_documents
from search_engine_spark.oracle import OracleIndex
from search_engine_spark.query import QueryEngine

from tests.conftest import assert_rank_identical

SF_DIR = "/root/testdata/sf0.001"
QUERY = "spark query"
CONJ_QUERY = "data table"


def _topk(df):
    return [(r["doc_id"], float(r["score"])) for r in df.collect()]


def _oracle_alive(oracle, query, deleted, mode="disjunctive", k=10):
    """Tombstone-semantics oracle: score with FULL-corpus stats, rank
    only the alive docs."""
    full = oracle.topk(query, mode=mode, k=oracle.n_docs)
    return [x for x in full if x[0] not in deleted][:k]


@pytest.fixture(scope="module")
def corpus(spark):
    docs_df = load_documents(spark, SF_DIR)
    rows = sorted(
        (r["doc_id"], r["text"])
        for r in docs_df.select("doc_id", "text").collect()
    )
    return docs_df, rows


@pytest.fixture(scope="module")
def base_index(spark, corpus, tmp_path_factory):
    docs_df, _rows = corpus
    index_dir = str(tmp_path_factory.mktemp("idx_maint"))
    IndexBuilder(spark, index_dir, n_salts=4, bucket_count=8).build(
        docs_df, resume=False
    )
    return index_dir


@pytest.fixture(scope="module")
def deleted_index(spark, corpus, base_index, tmp_path_factory):
    """A COPY of the base index with the flagship query's top-3 docs
    tombstoned (deleting winners is the adversarial case: the pruned
    theta must re-derive from the survivors)."""
    import shutil

    _docs_df, rows = corpus
    index_dir = str(tmp_path_factory.mktemp("idx_del"))
    os.rmdir(index_dir)
    shutil.copytree(base_index, index_dir)
    top = _topk(QueryEngine(spark, base_index).search(QUERY, k=10))
    victims = sorted({d for d, _ in top[:3]} | {rows[-1][0]})
    n = maintenance.delete_docs(spark, index_dir, victims)
    assert n == len(victims)
    return index_dir, set(victims)


def test_tombstones_filter_every_query_path(spark, corpus, deleted_index):
    _docs_df, rows = corpus
    index_dir, victims = deleted_index
    oracle = OracleIndex(rows)
    qe = QueryEngine(spark, index_dir)
    assert qe.has_deletes

    for mode, q in (("disjunctive", QUERY), ("conjunctive", CONJ_QUERY)):
        got = _topk(qe.search(q, mode=mode, k=10))
        assert not ({d for d, _ in got} & victims)
        want = _oracle_alive(oracle, q, victims, mode=mode)
        assert [d for d, _ in got] == [d for d, _ in want]
        # stale-stats semantics: survivor scores are UNCHANGED
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=2e-4)
        local = qe.search_local(q, mode=mode, k=10)
        assert [d for d, _ in local] == [d for d, _ in want]

    batch = qe.batch_search([(0, QUERY), (1, CONJ_QUERY)], k=10)
    got_ids = {r["doc_id"] for r in batch.collect()}
    assert not (got_ids & victims)


def test_distributed_tombstone_fallback_query_paths(
    spark, corpus, deleted_index, monkeypatch
):
    """Above DELETED_DRIVER_CAP the tombstone set stays a DataFrame
    (anti-join masking). Force cap=0 and check the Spark query paths
    still mask identically, while the driver-local path refuses
    loudly (its documented NotImplementedError)."""
    _docs_df, rows = corpus
    index_dir, victims = deleted_index
    orig = maintenance.load_deleted_array
    monkeypatch.setattr(
        maintenance,
        "load_deleted_array",
        lambda spark, d, cap=0: orig(spark, d, cap=0),
    )
    qe = QueryEngine(spark, index_dir)
    assert qe._deleted is None and qe._deleted_df is not None

    oracle = OracleIndex(rows)
    for mode, q in (("disjunctive", QUERY), ("conjunctive", CONJ_QUERY)):
        got = _topk(qe.search(q, mode=mode, k=10))
        assert not ({d for d, _ in got} & victims)
        want = _oracle_alive(oracle, q, victims, mode=mode)
        assert [d for d, _ in got] == [d for d, _ in want]
    with pytest.raises(NotImplementedError, match="driver cap"):
        qe.search_local(QUERY)


def test_meta_theta_fast_path_disabled_under_tombstones(
    spark, deleted_index
):
    index_dir, _victims = deleted_index
    qe = QueryEngine(spark, index_dir)
    qe.search(QUERY, k=10).collect()
    assert "theta0" not in qe.last_plan_stats


def test_delete_by_urls_resolves_through_doc_table(
    spark, corpus, base_index, tmp_path_factory
):
    import shutil

    _docs_df, rows = corpus
    index_dir = str(tmp_path_factory.mktemp("idx_url"))
    os.rmdir(index_dir)
    shutil.copytree(base_index, index_dir)
    doc_table = read_stage_parquet(
        spark, os.path.join(index_dir, "doc_table"), "doc_table"
    )
    urls = [
        r["url"]
        for r in doc_table.where(F.col("doc_id").isin([3, 7])).collect()
    ]
    assert len(urls) == 2
    assert maintenance.delete_by_urls(spark, index_dir, urls) == 2
    qe = QueryEngine(spark, index_dir)
    arr, df = maintenance.load_deleted_array(spark, index_dir)
    assert df is None and sorted(arr.tolist()) == [3, 7]
    assert qe.has_deletes


def test_compaction_equals_fresh_build_over_survivors(
    spark, corpus, deleted_index, tmp_path_factory
):
    _docs_df, rows = corpus
    index_dir, victims = deleted_index
    out_dir = str(tmp_path_factory.mktemp("idx_compact"))
    maintenance.compact_index(spark, index_dir, out_dir)

    qe = QueryEngine(spark, out_dir)
    assert not qe.has_deletes
    alive_oracle = OracleIndex([r for r in rows if r[0] not in victims])
    # stats re-derive: scores now match a FRESH build over survivors
    assert qe.n_docs == alive_oracle.n_docs
    assert qe.avgdl == pytest.approx(alive_oracle.avgdl)
    for mode, q in (("disjunctive", QUERY), ("conjunctive", CONJ_QUERY)):
        got = _topk(qe.search(q, mode=mode, k=10))
        want = alive_oracle.topk(q, mode=mode, k=10)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=2e-4)
    # no tombstoned id survives in any chunk
    chunks = read_stage_parquet(
        spark, os.path.join(out_dir, "chunks"), "chunks"
    ).collect()
    for row in chunks:
        ids, _tfs = codecs.decode_chunk(row["payload"], row["codec"])
        assert not (set(ids.astype(np.int64).tolist()) & victims)
        assert row["n"] == len(ids)
        assert row["first_doc_id"] == int(ids[0])
        assert row["last_doc_id"] == int(ids[-1])


def test_merge_shards_matches_full_build(
    spark, corpus, base_index, tmp_path_factory
):
    """Two shard indexes over globally disjoint doc-id halves merge
    (offsets=[0, 0]) into an index that answers like the full build."""
    docs_df, rows = corpus
    mid = rows[len(rows) // 2][0]
    dir_a = str(tmp_path_factory.mktemp("shard_a"))
    dir_b = str(tmp_path_factory.mktemp("shard_b"))
    out_dir = str(tmp_path_factory.mktemp("idx_merged"))
    IndexBuilder(spark, dir_a, n_salts=2, bucket_count=8).build(
        docs_df.where(F.col("doc_id") < mid), resume=False
    )
    IndexBuilder(spark, dir_b, n_salts=2, bucket_count=8).build(
        docs_df.where(F.col("doc_id") >= mid), resume=False
    )
    maintenance.merge_indexes(spark, [dir_a, dir_b], out_dir, offsets=[0, 0])

    full = QueryEngine(spark, base_index)
    merged = QueryEngine(spark, out_dir)
    assert merged.n_docs == full.n_docs
    assert merged.avgdl == pytest.approx(full.avgdl)
    for mode, q in (("disjunctive", QUERY), ("conjunctive", CONJ_QUERY)):
        got = _topk(merged.search(q, mode=mode, k=10))
        want = _topk(full.search(q, mode=mode, k=10))
        assert got == pytest.approx(want)
        local = merged.search_local(q, mode=mode, k=10)
        assert [d for d, _ in local] == [d for d, _ in want]

    # lexicon re-derives exactly (df, doc-id spans) from merged chunks
    lex_m = {
        r["term"]: (r["df"], r["min_doc_id"], r["max_doc_id"])
        for r in read_stage_parquet(
            spark, os.path.join(out_dir, "lexicon"), "lexicon"
        ).collect()
    }
    lex_f = {
        r["term"]: (r["df"], r["min_doc_id"], r["max_doc_id"])
        for r in read_stage_parquet(
            spark, os.path.join(base_index, "lexicon"), "lexicon"
        ).collect()
    }
    assert lex_m == lex_f


def test_merge_stack_offsets_relocate_local_shard_ids(
    spark, corpus, tmp_path_factory
):
    """Shards built with LOCAL dense ids (0..n_i-1 each) merge under
    offsets='stack' into the same id space as a full sequential build,
    with tier-2 chunks rewritten prefix-only (gap bytes preserved)."""
    docs_df, rows = corpus
    n = len(rows)
    mid_pos = n // 2
    mid = rows[mid_pos][0]
    dir_a = str(tmp_path_factory.mktemp("lshard_a"))
    dir_b = str(tmp_path_factory.mktemp("lshard_b"))
    out_dir = str(tmp_path_factory.mktemp("idx_stacked"))
    a_docs = docs_df.where(F.col("doc_id") < mid)
    # shard B re-ids its docs locally from 0, preserving order
    b_docs = docs_df.where(F.col("doc_id") >= mid).withColumn(
        "doc_id", (F.col("doc_id") - F.lit(mid)).cast("long")
    )
    IndexBuilder(spark, dir_a, n_salts=2, bucket_count=8).build(
        a_docs, resume=False
    )
    IndexBuilder(spark, dir_b, n_salts=2, bucket_count=8).build(
        b_docs, resume=False
    )
    b_chunks_before = {
        (r["term"], r["salt"], r["chunk_seq"]): (r["payload"], r["codec"])
        for r in read_stage_parquet(
            spark, os.path.join(dir_b, "chunks"), "chunks"
        ).collect()
    }
    maintenance.merge_indexes(spark, [dir_a, dir_b], out_dir)

    # the merged id space is contiguous 0..n-1
    merged = QueryEngine(spark, out_dir)
    assert merged.n_docs == n
    stats = read_stage_parquet(
        spark, os.path.join(out_dir, "stats"), "stats"
    ).collect()[0]
    delta = mid  # shard A's max_doc_id + 1 == mid (dense ids)
    assert int(stats["max_doc_id"]) == delta + (n - mid_pos) - 1

    # tier-2 check: a relocated B chunk decodes to original ids + delta
    # and its post-base tail bytes are UNTOUCHED (no re-encode)
    a_salts = 2
    checked = 0
    for r in read_stage_parquet(
        spark, os.path.join(out_dir, "chunks"), "chunks"
    ).collect():
        key = (r["term"], r["salt"] - a_salts, r["chunk_seq"])
        if r["salt"] < a_salts or key not in b_chunks_before:
            continue
        old_payload, old_codec = b_chunks_before[key]
        assert r["codec"] == old_codec
        old_ids, old_tfs = codecs.decode_chunk(old_payload, old_codec)
        new_ids, new_tfs = codecs.decode_chunk(r["payload"], r["codec"])
        assert (new_ids == old_ids + np.uint64(delta)).all()
        assert (new_tfs == old_tfs).all()
        _base, old_pos = codecs.var_byte_decode(old_payload, 0)
        _base2, new_pos = codecs.var_byte_decode(r["payload"], 0)
        assert bytes(r["payload"])[new_pos:] == bytes(old_payload)[old_pos:]
        checked += 1
    assert checked > 0


def test_merge_preserves_untouched_payload_bytes(
    spark, corpus, base_index, tmp_path_factory
):
    """Tier 1: offset-0, delete-free sources keep chunk payloads
    byte-identical (bounds may still re-derive)."""
    out_dir = str(tmp_path_factory.mktemp("idx_tier1"))
    maintenance.merge_indexes(spark, [base_index], out_dir, offsets=[0])
    before = {
        (r["term"], r["salt"], r["chunk_seq"]): (
            bytes(r["payload"]), bytes(r["dls"]), r["codec"], r["n"]
        )
        for r in read_stage_parquet(
            spark, os.path.join(base_index, "chunks"), "chunks"
        ).collect()
    }
    after = {
        (r["term"], r["salt"], r["chunk_seq"]): (
            bytes(r["payload"]), bytes(r["dls"]), r["codec"], r["n"]
        )
        for r in read_stage_parquet(
            spark, os.path.join(out_dir, "chunks"), "chunks"
        ).collect()
    }
    assert before == after


def test_merge_rejects_bucket_count_mismatch(
    spark, corpus, base_index, tmp_path_factory
):
    docs_df, _rows = corpus
    other = str(tmp_path_factory.mktemp("idx_bc"))
    IndexBuilder(spark, other, n_salts=2, bucket_count=4).build(
        docs_df.where(F.col("doc_id") < 5), resume=False
    )
    with pytest.raises(ValueError, match="bucket_count"):
        maintenance.merge_indexes(
            spark, [base_index, other],
            str(tmp_path_factory.mktemp("idx_bc_out")),
        )


def test_phrase_search_respects_tombstones(spark, corpus, tmp_path_factory):
    docs_df, rows = corpus
    index_dir = str(tmp_path_factory.mktemp("idx_pos_del"))
    IndexBuilder(
        spark, index_dir, n_salts=2, bucket_count=8, store_positions=True
    ).build(docs_df, resume=False)
    qe0 = QueryEngine(spark, index_dir)
    base = _topk(qe0.search(QUERY, k=10))
    # tombstone the top phrase/term doc and re-open
    maintenance.delete_docs(spark, index_dir, [base[0][0]])
    qe = QueryEngine(spark, index_dir)
    got = _topk(qe.search(QUERY, k=10))
    assert base[0][0] not in {d for d, _ in got}
    # positional operators share the filter
    pr = _topk(qe.proximity_search(QUERY, window=50, k=10))
    assert base[0][0] not in {d for d, _ in pr}


def test_phrase_rare_term_fully_tombstoned(spark, tmp_path_factory):
    """When every doc carrying the phrase's RAREST term is tombstoned,
    the rarest-term semi-join prunes to an empty candidate set — the
    result must be empty, not an error, and the stop-wordy other term
    must not resurrect candidates (the prune and the all-present
    filter both respect _alive_df)."""
    rows = [(i, f"u{i}", "the common words here") for i in range(20)]
    rows.append((20, "u20", "the zebra fact"))
    rows.append((21, "u21", "a zebra the end"))
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    index_dir = str(tmp_path_factory.mktemp("idx_rare_del"))
    IndexBuilder(
        spark, index_dir, n_salts=2, bucket_count=8, store_positions=True
    ).build(docs, resume=False)
    qe0 = QueryEngine(spark, index_dir)
    assert {r["doc_id"] for r in qe0.phrase_search("the zebra").collect()} \
        == {20}
    maintenance.delete_docs(spark, index_dir, [20, 21])
    qe = QueryEngine(spark, index_dir)
    assert qe.phrase_search("the zebra").collect() == []
    assert qe.proximity_search("the zebra", window=4).collect() == []


def test_upsert_matches_fresh_build_over_updated_corpus(
    spark, corpus, base_index, tmp_path_factory
):
    """upsert_docs (tombstone-by-url + delta shard + stacked merge)
    answers exactly like one fresh build over the UPDATED corpus:
    superseded versions gone, updated text scored with fresh stats,
    brand-new docs ranked. Compared by url because delta docs relocate
    above the base id space."""
    import shutil

    docs_df, rows = corpus
    base = str(tmp_path_factory.mktemp("idx_upsert_base"))
    os.rmdir(base)
    shutil.copytree(base_index, base)
    out_dir = str(tmp_path_factory.mktemp("idx_upserted"))

    # update the flagship top-2 docs (adversarial: winners change) and
    # add two brand-new docs stuffed with flagship terms
    top = _topk(QueryEngine(spark, base_index).search(QUERY, k=10))
    upd_ids = sorted({d for d, _ in top[:2]})
    suffix = " spark data quality improved"
    upd = (
        docs_df.where(F.col("doc_id").isin(upd_ids))
        .withColumn("text", F.concat("text", F.lit(suffix)))
        .select("url", "text")
    )
    new_rows = [
        (f"https://synthsrc/doc/new{w}",
         f"spark query data spark query data engine {w}")
        for w in ("alpha", "beta")
    ]
    delta = upd.unionByName(
        spark.createDataFrame(new_rows, "url string, text string")
    )
    manifest = maintenance.upsert_docs(spark, base, delta, out_dir)
    assert manifest["upsert"]["n_superseded"] == len(upd_ids)

    # oracle: fresh scoring over the updated corpus, keyed by url
    url_of = {
        r["doc_id"]: r["url"]
        for r in docs_df.select("doc_id", "url").collect()
    }
    text_of = dict(rows)
    upd_rows = []
    next_id = max(url_of) + 1
    urls = {}
    for did, text in rows:
        if did in upd_ids:
            upd_rows.append((did, text + suffix))
        else:
            upd_rows.append((did, text))
        urls[did] = url_of[did]
    for url, text in new_rows:
        upd_rows.append((next_id, text))
        urls[next_id] = url
        next_id += 1
    oracle = OracleIndex(upd_rows)

    qe = QueryEngine(spark, out_dir)
    assert qe.n_docs == len(upd_rows)
    got = qe.search(QUERY, mode="disjunctive", k=10)
    dt = read_stage_parquet(
        spark, os.path.join(out_dir, "doc_table"), "doc_table"
    )
    got_urls = [
        (r["url"], float(r["score"]))
        for r in got.join(dt.select("doc_id", "url"), "doc_id")
        .orderBy(F.desc("score"), "url")
        .collect()
    ]
    want = oracle.topk(QUERY, mode="disjunctive", k=10)
    want_urls = [(urls[d], s) for d, s in want]
    assert_rank_identical(got_urls, want_urls)
    # superseded versions are gone; the new docs are queryable
    assert not any(u in {url_of[d] for d in upd_ids} for u, _ in got_urls) \
        or all(urls[d] == url_of[d] for d in upd_ids)  # same url = updated
    new_hit = qe.search("alpha", k=5)
    new_ids = {r["doc_id"] for r in new_hit.collect()}
    assert new_ids, "brand-new doc must be queryable"


def test_multi_segment_serving_matches_full_build(
    spark, corpus, base_index, tmp_path_factory
):
    """MultiIndexQueryEngine over two tombstone-free half shards ==
    one QueryEngine over the full build: combined stats (N sum,
    doc-weighted avgdl, summed df) equal the fresh single-build stats,
    and the conservatively rescaled WAND bounds must not prune a true
    top-k doc (the shards' avgdls differ from the global one)."""
    from search_engine_spark.query import MultiIndexQueryEngine

    docs_df, rows = corpus
    mid = rows[len(rows) // 2][0]
    dir_a = str(tmp_path_factory.mktemp("serve_a"))
    dir_b = str(tmp_path_factory.mktemp("serve_b"))
    IndexBuilder(spark, dir_a, n_salts=2, bucket_count=8).build(
        docs_df.where(F.col("doc_id") < mid), resume=False
    )
    IndexBuilder(spark, dir_b, n_salts=2, bucket_count=8).build(
        docs_df.where(F.col("doc_id") >= mid), resume=False
    )
    full = QueryEngine(spark, base_index)
    mqe = MultiIndexQueryEngine(spark, [dir_a, dir_b], offsets=[0, 0])
    assert mqe.n_docs == full.n_docs
    assert mqe.avgdl == pytest.approx(full.avgdl)
    assert all(e.has_stats_override for e in mqe.engines)
    # the rescale is exercised: shard avgdls differ from the global
    assert any(e._scale_max > 1.0 or e._scale_min < 1.0
               for e in mqe.engines)
    for mode, q in (("disjunctive", QUERY), ("conjunctive", CONJ_QUERY)):
        got = _topk(mqe.search(q, mode=mode, k=10))
        want = _topk(full.search(q, mode=mode, k=10))
        assert_rank_identical(got, want)
        local = mqe.search_local(q, mode=mode, k=10)
        assert_rank_identical(local, want)


def test_multi_segment_serving_after_upsert_before_merge(
    spark, corpus, base_index, tmp_path_factory
):
    """The freshness-gap scenario: base with tombstoned superseded
    versions + an un-merged delta shard serve together under STALE
    combined stats (base N/avgdl/df still count the tombstoned
    versions — deleted-docs semantics), verified against the
    stale-stats python oracle over base-rows + delta-rows."""
    import shutil

    from search_engine_spark.corpus import assign_doc_ids
    from search_engine_spark.query import MultiIndexQueryEngine

    docs_df, rows = corpus
    base = str(tmp_path_factory.mktemp("lsm_base"))
    os.rmdir(base)
    shutil.copytree(base_index, base)

    top = _topk(QueryEngine(spark, base_index).search(QUERY, k=10))
    upd_ids = sorted({d for d, _ in top[:2]})
    suffix = " spark data quality improved"
    delta_docs = (
        docs_df.where(F.col("doc_id").isin(upd_ids))
        .withColumn("text", F.concat("text", F.lit(suffix)))
        .select("url", "text")
        .unionByName(
            spark.createDataFrame(
                [("https://synthsrc/doc/newalpha",
                  "spark query data spark query data engine alpha")],
                "url string, text string",
            )
        )
    )
    # tombstone superseded urls in the base; build the delta shard
    from search_engine_spark.maintenance import delete_docs

    dt = read_stage_parquet(
        spark, os.path.join(base, "doc_table"), "doc_table"
    )
    ids = dt.join(delta_docs.select("url").distinct(), "url").select(
        "doc_id"
    )
    delete_docs(spark, base, ids)
    delta_dir = str(tmp_path_factory.mktemp("lsm_delta"))
    IndexBuilder(spark, delta_dir, n_salts=2, bucket_count=8).build(
        assign_doc_ids(delta_docs), resume=False
    )

    mqe = MultiIndexQueryEngine(spark, [base, delta_dir])
    off1 = mqe.offsets[1]
    # stale stats: N counts the tombstoned base versions
    assert mqe.n_docs == len(rows) + len(upd_ids) + 1

    # oracle rows: all base versions + delta rows at their global ids
    ddt = read_stage_parquet(
        spark, os.path.join(delta_dir, "doc_table"), "doc_table"
    )
    delta_rows = [
        (off1 + int(r["doc_id"]), r["text"])
        for r in ddt.select("doc_id", "text").collect()
    ]
    oracle = OracleIndex(rows + delta_rows)
    deleted = set(upd_ids)

    got = _topk(mqe.search(QUERY, mode="disjunctive", k=10))
    want = _oracle_alive(oracle, QUERY, deleted)
    assert_rank_identical(got, want)
    local = mqe.search_local(QUERY, mode="disjunctive", k=10)
    assert_rank_identical(local, want)
    # the delta's docs are immediately visible (no merge ran)
    alpha = mqe.search_local("alpha", k=5)
    assert alpha and all(d >= off1 for d, _ in alpha)


def test_engine_close_releases_metadata_cache(
    spark, corpus, base_index, monkeypatch
):
    """close() unpersists the engine-pinned chunks-metadata projection
    (``_chunks_meta``) and the context-manager form forwards to it; a
    multi-segment engine closes every per-segment engine. Guards the
    churn case — LSM serving that reopens engines after delete/upsert
    must not accumulate pinned caches for the session lifetime. (On
    the parquet layout only the above-cap banded planner reads the
    projection, hence the lowered cap.)"""
    import search_engine_spark.query as query_mod
    from search_engine_spark.query import MultiIndexQueryEngine

    monkeypatch.setattr(query_mod, "METADATA_CAP", 1)
    with QueryEngine(spark, base_index) as eng:
        _topk(eng.search(QUERY, mode="disjunctive", k=10))
        assert eng.last_plan_stats["pruner"] == "batch_banded_wand"
        cached = eng._meta_df
        if cached is not None:  # the planner pinned the projection
            assert cached.storageLevel.useMemory
    assert eng._meta_df is None
    if cached is not None:
        assert not cached.storageLevel.useMemory  # actually unpersisted

    with MultiIndexQueryEngine(spark, [base_index]) as mqe:
        _topk(mqe.search(QUERY, "disjunctive"))
        segs = list(mqe.engines)
    assert all(e._meta_df is None for e in segs)
    # closed engines still re-open lazily on next use (close is not a
    # poison pill — the cache re-pins on demand)
    reopened = QueryEngine(spark, base_index)
    got = _topk(reopened.search(QUERY, mode="disjunctive", k=10))
    assert len(got) == 10
    reopened.close()


def test_multi_segment_facets_and_suggest_match_full_build(
    spark, corpus, base_index, tmp_path_factory
):
    """Facet counts and suggestions across two half shards == one
    engine over the full build: docs partition across segments (counts
    sum exactly), term dfs sum across segment lexicons."""
    from search_engine_spark.query import MultiIndexQueryEngine

    docs_df, rows = corpus
    mid = rows[len(rows) // 2][0]
    dir_a = str(tmp_path_factory.mktemp("fs_a"))
    dir_b = str(tmp_path_factory.mktemp("fs_b"))
    IndexBuilder(spark, dir_a, n_salts=2, bucket_count=8).build(
        docs_df.where(F.col("doc_id") < mid), resume=False
    )
    IndexBuilder(spark, dir_b, n_salts=2, bucket_count=8).build(
        docs_df.where(F.col("doc_id") >= mid), resume=False
    )
    full = QueryEngine(spark, base_index)
    mqe = MultiIndexQueryEngine(spark, [dir_a, dir_b], offsets=[0, 0])
    for mode in ("disjunctive", "conjunctive"):
        want = [
            (r["facet"], r["n_docs"])
            for r in full.facet_counts(QUERY, mode=mode, top_n=10**6).collect()
        ]
        got = [
            (r["facet"], r["n_docs"])
            for r in mqe.facet_counts(QUERY, mode=mode, top_n=10**6).collect()
        ]
        assert got == want, mode
    for prefix in ("s", "d"):
        want = [
            (r["term"], r["df"])
            for r in full.suggest(prefix, n=100).collect()
        ]
        got = [
            (r["term"], r["df"]) for r in mqe.suggest(prefix, n=100).collect()
        ]
        assert got == want, prefix


# ------------------------------------------------------------ index fsck


@pytest.fixture(scope="module")
def fsck_index(spark, tmp_path_factory):
    """One positional index + bloom + a few tombstones, checked
    healthy once; corruption tests work on COPIES."""
    from search_engine_spark.build import build_term_bloom

    idx = str(tmp_path_factory.mktemp("fsck") / "idx")
    docs = load_documents(spark, SF_DIR)
    IndexBuilder(
        spark, idx, n_salts=4, bucket_count=8, store_positions=True
    ).build(docs)
    build_term_bloom(spark, idx)
    maintenance.delete_docs(spark, idx, [1, 2, 3])
    return idx


def _fsck(spark, idx, deep=True):
    return {
        r["check_name"]: (int(r["n_examined"]), int(r["n_violations"]))
        for r in maintenance.check_index(spark, idx, deep=deep).collect()
    }


def _copy(idx, tmp_path, name):
    import shutil

    dst = str(tmp_path / name)
    shutil.copytree(idx, dst)
    return dst


def _tamper(idx, stage, fn):
    """Rewrite the first data file of a stage through fn(pandas_df)."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = sorted(
        glob.glob(
            os.path.join(idx, stage, "**", "*.parquet"), recursive=True
        )
    )[0]
    t = pq.read_table(f)
    pdf = t.to_pandas()
    fn(pdf)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=t.schema, preserve_index=False), f
    )
    # the rewritten bytes no longer match Hadoop's checksum sidecar —
    # remove it so the read reaches the (corrupted) parquet itself
    crc = os.path.join(
        os.path.dirname(f), "." + os.path.basename(f) + ".crc"
    )
    if os.path.exists(crc):
        os.remove(crc)


def test_check_index_healthy(spark, fsck_index):
    rep = _fsck(spark, fsck_index)
    assert all(v == 0 for _, v in rep.values()), rep
    # coverage: every artifact was actually examined
    assert rep["lexicon_chunks_consistency"][0] > 0
    assert rep["payload_decode"][0] > 0
    assert rep["postings_tf_positions"][0] > 0
    assert rep["bloom_false_negatives"][0] == rep[
        "lexicon_chunks_consistency"
    ][0]
    assert rep["tombstones_in_doc_table"][0] == 3
    assert rep["doc_ids_unique"][0] == 500


def test_check_index_detects_lexicon_drift(spark, fsck_index, tmp_path):
    idx = _copy(fsck_index, tmp_path, "lexdrift")

    def bump(pdf):
        pdf.loc[0, "df"] = int(pdf.loc[0, "df"]) + 1

    _tamper(idx, "lexicon", bump)
    rep = _fsck(spark, idx, deep=False)
    assert rep["lexicon_chunks_consistency"][1] >= 1


def test_check_index_detects_payload_rot(spark, fsck_index, tmp_path):
    idx = _copy(fsck_index, tmp_path, "payloadrot")

    def rot(pdf):
        pdf.loc[0, "payload"] = b"\x00\x01\x02"

    _tamper(idx, "chunks", rot)
    rep = _fsck(spark, idx)
    assert rep["payload_decode"][1] >= 1


def test_check_index_detects_duplicate_chunk(spark, fsck_index, tmp_path):
    """A double-written chunk row (same term/salt/chunk_seq) trips
    chunk_seq_unique AND lexicon_chunks_consistency (df inflates).
    Holes in chunk_seq are NOT violations — compaction legitimately
    drops fully-deleted chunks without resequencing."""
    idx = _copy(fsck_index, tmp_path, "chunkdup")

    def dup(pdf):
        pdf.loc[len(pdf)] = pdf.loc[0]

    _tamper(idx, "chunks", dup)
    rep = _fsck(spark, idx, deep=False)
    assert rep["chunk_seq_unique"][1] >= 1
    assert rep["lexicon_chunks_consistency"][1] >= 1


def test_check_index_detects_duplicate_doc(spark, fsck_index, tmp_path):
    import pandas as pd

    idx = _copy(fsck_index, tmp_path, "dupdoc")

    def dup(pdf):
        pdf.loc[len(pdf)] = pdf.loc[0]

    # doc_table is a zero-copy VIEW of the tokens stage — corrupt the
    # backing parquet
    _tamper(idx, "tokens", dup)
    rep = _fsck(spark, idx, deep=False)
    assert rep["doc_ids_unique"][1] >= 1
    assert rep["stats_consistency"][1] == 1  # n_docs recount drifted


def test_check_index_detects_orphan_tombstone(spark, fsck_index, tmp_path):
    idx = _copy(fsck_index, tmp_path, "orphantomb")
    maintenance.delete_docs(spark, idx, [10**9])
    rep = _fsck(spark, idx, deep=False)
    assert rep["tombstones_in_doc_table"] == (4, 1)


def test_check_index_detects_bloom_false_negative(
    spark, fsck_index, tmp_path
):
    import numpy as np

    idx = _copy(fsck_index, tmp_path, "bloomfn")
    bdir = os.path.join(idx, codecs.BLOOM_DIR)
    words, m, k, n_terms = codecs.bloom_load(bdir)
    words = words.copy()
    words[:] = 0  # wipe the filter: every term now probes negative
    codecs.bloom_save(bdir, words, m, k, n_terms)
    rep = _fsck(spark, idx, deep=False)
    assert rep["bloom_false_negatives"][1] == rep["bloom_false_negatives"][0]
    assert rep["bloom_false_negatives"][0] > 0


def test_check_index_chunk_orphan_term_is_not_a_bloom_violation(
    spark, fsck_index, tmp_path
):
    """A term present only in the chunks table (absent from the
    lexicon) is a lexicon/chunks inconsistency, not a Bloom one: the
    sidecar's term count must be compared with the lexicon's own row
    count, not with the full-outer join's examined count."""
    idx = _copy(fsck_index, tmp_path, "chunkorphan")

    def orphan(pdf):
        pdf.loc[len(pdf)] = pdf.loc[0]
        pdf.loc[len(pdf) - 1, "term"] = "zzzorphanterm"

    _tamper(idx, "chunks", orphan)
    rep = _fsck(spark, idx, deep=False)
    assert rep["lexicon_chunks_consistency"][1] >= 1
    assert rep["bloom_sidecar"] == (1, 0), rep


def test_fsck_clean_across_lifecycle(spark, fsck_index, tmp_path):
    """check_index stays all-zero across the whole write lifecycle:
    tombstoned base -> upsert delta -> stacked merge. The merge
    rewrites chunks map-only and re-aggregates the lexicon; fsck
    proves the rewritten artifacts stay mutually consistent."""
    import shutil

    base = str(tmp_path / "lc_base")
    shutil.copytree(fsck_index, base)
    docs = load_documents(spark, SF_DIR)
    delta = docs.where(F.col("doc_id") < 10).withColumn(
        "text", F.concat(F.lit("freshtoken "), F.col("text"))
    )
    up = str(tmp_path / "lc_up")
    maintenance.upsert_docs(spark, base, delta, up)
    merged = str(tmp_path / "lc_merged")
    maintenance.merge_indexes(spark, [base, up], merged, offsets="stack")
    rep = {
        r["check_name"]: int(r["n_violations"])
        for r in maintenance.check_index(spark, merged, deep=True).collect()
    }
    assert all(v == 0 for v in rep.values()), rep


def test_fsck_accepts_compaction_holes_and_empty_indexes(
    spark, fsck_index, tmp_path
):
    """Two degenerate-but-healthy states must fsck clean: (1) a
    compaction that fully emptied chunks leaves chunk_seq holes —
    legitimate, not corruption; (2) an index built from an empty
    corpus has NULL avgdl/max stats — the NULL-tolerant recount
    agrees instead of crashing."""
    import shutil

    # (1) tombstone one whole chunk's doc range of a multi-chunk term,
    # then compact: surviving chunks keep their original (now gappy)
    # chunk_seq values. n_salts=1 so a df-500 term spans 4 chunks in
    # ONE (term, salt) group (the fsck fixture's 4-salt layout leaves
    # every group single-chunk).
    src = str(tmp_path / "holes_src")
    IndexBuilder(spark, src, n_salts=1, bucket_count=4).build(
        load_documents(spark, SF_DIR)
    )
    chunks = read_stage_parquet(
        spark, os.path.join(src, "chunks"), "chunks"
    )
    victim = (
        chunks.groupBy("term", "salt")
        .agg(F.count("*").alias("k"), F.min("chunk_seq").alias("s0"))
        .where(F.col("k") >= 2)
        .limit(1)
        .collect()
    )
    assert victim, "fixture needs a multi-chunk (term, salt) group"
    t, sa = victim[0]["term"], victim[0]["salt"]
    first = (
        chunks.where(
            (F.col("term") == t) & (F.col("salt") == sa)
            & (F.col("chunk_seq") == victim[0]["s0"])
        )
        .select("first_doc_id", "last_doc_id")
        .collect()[0]
    )
    dels = spark.range(
        int(first["first_doc_id"]), int(first["last_doc_id"]) + 1
    ).withColumnRenamed("id", "doc_id")
    maintenance.delete_docs(spark, src, dels)
    out = str(tmp_path / "holes_out")
    maintenance.compact_index(spark, src, out)
    rep = _fsck(spark, out)
    assert all(v == 0 for _, v in rep.values()), rep

    # (2) empty-corpus index
    empty_idx = str(tmp_path / "empty_idx")
    empty = spark.createDataFrame(
        [], "doc_id long, url string, text string"
    )
    IndexBuilder(spark, empty_idx, bucket_count=4).build(empty)
    rep2 = _fsck(spark, empty_idx)
    assert all(v == 0 for _, v in rep2.values()), rep2
