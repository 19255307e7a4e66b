"""Physical-plan regression guards: the optimizer properties the scale
story depends on (pushdown, pruning, top-k operator) must survive
refactors.  Full audit with printed plans: scripts/explain_audit.py."""

import re


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


class TestPlans:
    def test_candidate_scan_pushdown(self, corpus_a_index):
        ix = corpus_a_index
        cand = ix._candidate_postings(
            [("col1", "ancient"), ("col2", "rise")])
        p = _plan(cand)
        assert re.search(r"PartitionFilters: \[[^\]]*bucket", p), p[:800]
        assert re.search(r"PushedFilters: \[[^\]]*[Ii]n\(term", p), p[:800]

    def test_topk_is_take_ordered(self, corpus_a_index):
        q = corpus_a_index.bm25_search("ancient rise", top_k=5,
                                       operator_or=True)
        assert "TakeOrderedAndProject" in _plan(q)

    def test_stats_lookup_bucket_pruned(self, corpus_a_index):
        """Per-query stats lookups must prune stats partition dirs by
        bucket (stats are written partitionBy(bucket)) and push the term
        filter into the scan."""
        p = _plan(corpus_a_index._stats_lookup_df(["ancient", "rise"]))
        assert re.search(r"PartitionFilters: \[[^\]]*bucket", p), p[:800]
        assert re.search(r"PushedFilters: \[[^\]]*[Ii]n\(term", p), p[:800]

    def test_bm25_scan_prunes_unused_columns(self, corpus_a_index):
        """The exact scoring path must not read positions or block-max
        metadata from parquet (Spark can't prune through mapInPandas, so
        the projection has to happen before the UDF)."""
        p = _plan(corpus_a_index.bm25_search("ancient rise", top_k=5,
                                             operator_or=True))
        m = re.search(r"ReadSchema: ([^\n]*)", p)
        assert m, p[:800]
        rs = m.group(1)
        assert "deltas" in rs and "tfs" in rs, rs
        for absent in ("positions", "block_max_tf", "block_min_norm",
                       "block_last"):
            assert absent not in rs, rs

    def test_standard_bm25_single_shuffle(self, corpus_a_index):
        """Concrete-column atoms make (doc, atom) pairs unique by the
        shard layout, so the per-doc map build must be the ONLY
        exchange in the scoring plan (the pre-agg shuffle is skipped)."""
        q = corpus_a_index.bm25_search("ancient rise", top_k=5,
                                       operator_or=True)
        p = _plan(q)
        assert p.count("+- Exchange") == 1, p[:1200]

    def test_batch_packed_exchange_pinned(self, corpus_a_index):
        """The batch hot path ships packed (shard, sub) posting blobs
        and its exchange must be REPARTITION_BY_NUM at the session's
        shuffle parallelism: AQE's byte-based stage coalescing must not
        shrink the Python GEMM stage (it sized the 960k-doc batch stage
        to 6 tasks against ~390 s of Python work, capping 1->4-core
        speedup at 2.6x)."""
        spark = corpus_a_index.spark
        q = corpus_a_index.bm25_search_batch(
            [("ancient rise", True), ("moral horizons", False)], top_k=3)
        p = _plan(q)
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert re.search(
            rf"hashpartitioning\(shard#\d+, sub#\d+, {n}\), "
            r"REPARTITION_BY_NUM", p), p[:1500]

    def test_batch_raw_fallback_exchange_pinned(self, corpus_a_index,
                                                monkeypatch):
        """Anti-join-tier delete sets force the batch off the packed
        path onto the scalar (doc_id, atom, score) rows with a JVM
        (doc, atom) pre-agg — that path's doc_id exchange must also be
        pinned (REPARTITION_BY_NUM), with no second exchange for the
        agg."""
        spark = corpus_a_index.spark
        monkeypatch.setattr(corpus_a_index, "_tombstone_small_array",
                            lambda: None)
        q = corpus_a_index.bm25_search_batch(
            [("ancient rise", True), ("moral horizons", False)], top_k=3,
            enable_nlq=True)
        p = _plan(q)
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert re.search(
            rf"hashpartitioning\(doc_id#\d+L?, {n}\), REPARTITION_BY_NUM",
            p), p[:1500]

    def test_bitmap_scan_prunes_scoring_columns(self, corpus_a_index):
        b = corpus_a_index.query_term_bitmap_df("col2", "ancient")
        p = _plan(b)
        m = re.search(r"ReadSchema: ([^\n]*)", p)
        assert m, p[:800]
        rs = m.group(1)
        assert "deltas" in rs and "tfs" not in rs and "norms" not in rs, rs

    def test_merge_grouped_map_exchange_pinned(self, spark, tmp_path):
        """The merge stage's grouped-map shuffle carries byte-light
        encoded blobs but CPU-heavy pandas work per row — its exchange
        must be REPARTITION_BY_NUM (AQE byte-coalescing serialized it
        to ~3 tasks on the 960k cluster builds) and the pinned
        repartition must satisfy the grouped-map's distribution, i.e.
        exactly ONE exchange in the merged branch."""
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from corpora import corpus_a_rows

        cfg = IndexConfig.from_json(["col1"], "{}")
        b = IndexBuilder(spark, str(tmp_path / "m"), cfg, rows_per_part=2)
        b.merge_hot_df = 0  # every term routes through the pandas merge
        df = spark.createDataFrame(corpus_a_rows())
        from tantivy_search_spark.index import layout
        # a minimal fragments frame through the real segment builder
        from tantivy_search_spark.index.builder import (
            _segment_builder, _term_stats)
        segs = (df.withColumn("part_id", (df.doc_id / 2).cast("int"))
                .select("part_id", "doc_id", "col1")
                .groupBy("part_id")
                .applyInArrow(_segment_builder(cfg.to_json()),
                              layout.SEGMENTS_SCHEMA))
        merged = b._merge_fragments(segs, _term_stats(segs), cfg.to_json())
        p = _plan(merged)
        n = spark.sparkContext.defaultParallelism * 2
        assert re.search(
            rf"hashpartitioning\(col#\d+, term#\d+, shard#\d+, {n}\), "
            r"REPARTITION_BY_NUM", p), p[:2000]
