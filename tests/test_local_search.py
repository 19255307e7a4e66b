"""bm25_search_local (driver hot path) == bm25_search (distributed),
query for query, including filters, deletes-free stats injection, and
NLQ fallback."""

from tantivy_search_spark.bitmap import row_ids_to_u8_bitmap


QUERIES = [
    ("Ancient empires rise and fall", False),
    ("Ancient empires rise and fall", True),
    ("ancient", True),
    ("moral horizons", False),
    ("nonexistent gibberish", True),
]


def _dist(ix, s, op, **kw):
    return [(r["row_id"], round(r["score"], 4)) for r in
            ix.bm25_search(s, top_k=5, operator_or=op, **kw).collect()]


def _loc(ix, s, op, **kw):
    return [(rid, round(sc, 4)) for rid, sc in
            ix.bm25_search_local(s, top_k=5, operator_or=op, **kw)]


class TestLocalSearch:
    def test_local_equals_distributed(self, corpus_a_index):
        ix = corpus_a_index
        ix.enable_stats_cache()
        for s, op in QUERIES:
            assert _loc(ix, s, op) == _dist(ix, s, op), (s, op)

    def test_local_single_column(self, corpus_a_index):
        ix = corpus_a_index
        got = _loc(ix, "ancient", True, column_names=["col2"])
        want = _dist(ix, "ancient", True, column_names=["col2"])
        assert got == want

    def test_local_alive_filter(self, corpus_a_index):
        ix = corpus_a_index
        bm = row_ids_to_u8_bitmap([0, 4])
        got = _loc(ix, "ancient rise fall", True, alive_bitmap=bm)
        want = _dist(ix, "ancient rise fall", True, alive_bitmap=bm)
        assert got == want and all(r in (0, 4) for r, _ in got)

    def test_local_statistics_injection(self, corpus_a_index):
        from tantivy_search_spark.search.engine import Statistics

        ix = corpus_a_index
        toks = {c: ix.config.analyzer(c)("ancient rise fall")
                for c in ix.config.columns}
        local = ix.local_statistics(toks)
        fake = Statistics(
            docs_freq=[(t, c, d * 2) for (t, c, d) in local.docs_freq],
            total_num_tokens={c: n * 2 for c, n in
                              local.total_num_tokens.items()},
            total_num_docs=local.total_num_docs * 2,
        )
        got = _loc(ix, "ancient rise fall", True, statistics=fake)
        want = _dist(ix, "ancient rise fall", True, statistics=fake)
        assert got == want

    def test_local_nlq(self, corpus_a_index):
        ix = corpus_a_index
        got = _loc(ix, "col2:ancient OR (moral horizons)", False,
                   enable_nlq=True)
        want = _dist(ix, "col2:ancient OR (moral horizons)", False,
                     enable_nlq=True)
        assert got == want

    def test_local_cache_warm_no_spark_job(self, corpus_a_index):
        """After the first call, repeated queries hit the decoded LRU
        and run zero Spark jobs (the latency story)."""
        ix = corpus_a_index
        ix.enable_stats_cache()
        first = _loc(ix, "ancient rise fall", True)
        tracker = ix.spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        again = _loc(ix, "ancient rise fall", True)
        after = tracker.getJobIdsForGroup(None)
        assert again == first
        assert len(after) == len(before), "warm local query ran a Spark job"

    def test_warm_terms_bulk_prefetch(self, corpus_a_index):
        """warm_terms bulk-fills the raw/ids LRUs in one scan; queries
        and bitmaps afterwards return exactly what cold calls return."""
        ix = corpus_a_index
        queries = ["ancient rise fall", "moral horizons"]
        for c in ix.config.columns:
            n = ix.warm_terms(c, queries, bitmaps=True)
            assert n > 0
        warm = [ix.bm25_search_local(q, top_k=5, use_wand=True)
                for q in queries]
        warm_bm = ix.query_term_bitmap(ix.config.columns[0], "ancient")
        for attr in ("_local_raw_cache", "_local_ids_cache",
                     "_local_cache", "_local_score_cache",
                     "_bitmap_cache"):
            if hasattr(ix, attr):
                getattr(ix, attr).clear()
        cold = [ix.bm25_search_local(q, top_k=5, use_wand=True)
                for q in queries]
        cold_bm = ix.query_term_bitmap(ix.config.columns[0], "ancient")
        assert warm == cold
        assert warm_bm == cold_bm

    def test_local_wand_equals_exact(self, corpus_a_index):
        ix = corpus_a_index
        for s, op in [("ancient rise fall", True),
                      ("ancient rise fall", False),
                      ("moral horizons", False)]:
            got = [(r, round(sc, 4)) for r, sc in
                   ix.bm25_search_local(s, top_k=5, operator_or=op,
                                        column_names=["col2"],
                                        use_wand=True)]
            want = _dist(ix, s, op, column_names=["col2"])
            assert got == want, (s, op)

    def test_local_cache_smaller_than_query_no_keyerror(self, spark, tmp_path):
        """A query referencing more atoms than the LRU cap used to evict
        entries mid-fill and KeyError on the gather; eviction now happens
        after the query's atoms are all pinned."""
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex
        from corpora import corpus_a_rows

        path = str(tmp_path / "tiny_cache_idx")
        cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
        IndexBuilder(spark, path, cfg, rows_per_part=2).build(
            spark.createDataFrame(corpus_a_rows()), id_col="doc_id")
        ix = SearchIndex(spark, path)
        ix.enable_local_cache(max_terms=2)  # below the query's atom count
        got = [(r, round(s, 4)) for r, s in
               ix.bm25_search_local("ancient empires rise and fall",
                                    top_k=5, operator_or=True)]
        want = [(r["row_id"], round(r["score"], 4)) for r in
                ix.bm25_search("ancient empires rise and fall", top_k=5,
                               operator_or=True).collect()]
        assert got == want
        # over-cap entries beyond the current query may remain pinned
        # only for this query; the cache never exceeds cap + atoms
        assert len(ix._local_cache) <= 2 + 3 * 5


class TestAutoRoute:
    """bm25_search_auto picks the tier; results identical either side
    of the threshold (round-3 routing heuristic)."""

    def test_routes_local_below_threshold(self, corpus_a_index):
        ix = corpus_a_index
        assert ix._postings_bytes() <= ix.AUTO_LOCAL_MAX_BYTES
        auto = [(r, round(s, 4)) for r, s in
                ix.bm25_search_auto("ancient empires rise", top_k=5,
                                    operator_or=True)]
        local = [(r, round(s, 4)) for r, s in
                 ix.bm25_search_local("ancient empires rise", top_k=5,
                                      operator_or=True)]
        assert auto == local

    def test_routes_spark_above_threshold_same_results(
            self, corpus_a_index):
        ix = corpus_a_index
        base = [(r, round(s, 4)) for r, s in
                ix.bm25_search_auto("ancient empires rise", top_k=5,
                                    operator_or=True)]
        old = ix.AUTO_LOCAL_MAX_BYTES
        ix.AUTO_LOCAL_MAX_BYTES = 0  # force the distributed tier
        try:
            dist = [(r, round(s, 4)) for r, s in
                    ix.bm25_search_auto("ancient empires rise", top_k=5,
                                        operator_or=True)]
        finally:
            ix.AUTO_LOCAL_MAX_BYTES = old
        assert dist == base

    def test_size_cache_resets_on_reload(self, corpus_a_index):
        ix = corpus_a_index
        n = ix._postings_bytes()
        assert ix._postings_bytes_cache == n
        ix.reload()
        assert ix._postings_bytes_cache is None
        assert ix._postings_bytes() == n


class TestLocalTreeEvaluator:
    """Non-flat NLQ trees (MustNot, boosts, nested groups) must answer
    IN-PROCESS — open_local() indexes have no Spark tier to fall back
    to (ADVICE r4)."""

    NESTED = [
        "ancient -empires",                       # top-level MustNot
        "moral^2 horizons",                       # boost factor != 1
        "(ancient empires) AND (rise OR fall)",   # nested groups
        "ancient AND (rise OR -fall)",
    ]

    def test_nested_nlq_local_equals_distributed(self, corpus_a_index):
        ix = corpus_a_index
        ix.enable_stats_cache()
        for q in self.NESTED:
            got = _loc(ix, q, False, enable_nlq=True)
            want = _dist(ix, q, False, enable_nlq=True)
            assert got == want, q

    def test_nested_nlq_without_spark(self, corpus_a_index):
        from tantivy_search_spark.search.engine import SearchIndex
        local = SearchIndex.open_local(corpus_a_index.index_path)
        ix = corpus_a_index
        for q in self.NESTED:
            got = [(rid, round(sc, 4)) for rid, sc in
                   local.bm25_search_local(q, top_k=5, enable_nlq=True)]
            want = _dist(ix, q, False, enable_nlq=True)
            assert got == want, q


class TestDenseHotTermGather:
    """High-df terms ride a doc-indexed dense position lookup in the
    TAAT/WAND local path (round-5: replaces the per-query searchsorted
    gather that dominated hot+tail latency).  Scores must stay
    bit-identical to the sparse path and to the distributed tier."""

    def test_dense_path_triggers_and_matches(self, corpus_a_index,
                                             monkeypatch):
        ix = corpus_a_index
        ix.enable_stats_cache()
        ix.enable_local_cache()
        # corpus a is tiny, so drop the posting-count floor to let the
        # dense path trigger ('the' covers >= 25% of col3 docs)
        monkeypatch.setattr(type(ix), "LOCAL_DENSE_MIN_DOCS", 1)
        if hasattr(ix, "_local_dense_cache"):
            ix._local_dense_cache.clear()
        # single column: the TAAT/WAND local shortcut (where the
        # dense gather lives) only runs for one-column queries
        for s, op in [("the ancient", False), ("the ancient", True),
                      ("the moral", False), ("the rise fall", True)]:
            got = [(rid, round(sc, 6)) for rid, sc in
                   ix.bm25_search_local(s, top_k=5, operator_or=op,
                                        column_names=["col3"],
                                        use_wand=True)]
            want = [(r["row_id"], round(r["score"], 6)) for r in
                    ix.bm25_search(s, top_k=5, operator_or=op,
                                   column_names=["col3"]).collect()]
            assert got == want, (s, op)
        # the dense cache actually filled (the path ran, not skipped)
        cache = getattr(ix, "_local_dense_cache", {})
        assert any(k[1] == "the" for k in cache), list(cache)

    def test_dense_matches_sparse_forced(self, corpus_a_index,
                                         monkeypatch):
        """Same query answered with the dense path disabled (fraction
        raised) must be identical — pins the equivalence directly."""
        ix = corpus_a_index
        ix.enable_local_cache()
        monkeypatch.setattr(type(ix), "LOCAL_DENSE_MIN_DOCS", 1)
        if hasattr(ix, "_local_dense_cache"):
            ix._local_dense_cache.clear()
        q, op = "the ancient empires", True
        dense = ix.bm25_search_local(q, top_k=10, operator_or=op,
                                     column_names=["col3"],
                                     use_wand=True)
        old = type(ix).LOCAL_DENSE_MIN_FRAC
        try:
            type(ix).LOCAL_DENSE_MIN_FRAC = 2.0  # nothing qualifies
            if hasattr(ix, "_local_dense_cache"):
                ix._local_dense_cache.clear()
            sparse = ix.bm25_search_local(q, top_k=10, operator_or=op,
                                          column_names=["col3"],
                                          use_wand=True)
        finally:
            type(ix).LOCAL_DENSE_MIN_FRAC = old
        assert dense == sparse

    def test_dense_survives_delete_and_reload(self, spark, tmp_path,
                                              monkeypatch):
        import json

        from tantivy_search_spark.search.engine import SearchIndex as SI
        monkeypatch.setattr(SI, "LOCAL_DENSE_MIN_DOCS", 1)

        from corpora import corpus_a_rows
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex

        spec = {"col1": {"tokenizer": {"type": "default"}}}
        cfg = IndexConfig.from_json(["col1"], json.dumps(spec))
        cfg.n_buckets = 4
        cfg.parts_per_shard = 2
        path = str(tmp_path / "dense_del")
        src = spark.createDataFrame(
            [{"doc_id": r["doc_id"], "col1": r["col1"]}
             for r in corpus_a_rows()])
        IndexBuilder(spark, path, cfg, rows_per_part=2).build(
            src, id_col="doc_id")
        ix = SearchIndex(spark, path)
        ix.enable_local_cache()
        before = ix.bm25_search_local("the ancient", top_k=10,
                                      operator_or=True, use_wand=True)
        assert before
        assert getattr(ix, "_local_dense_cache", {})  # dense path ran
        victim = before[0][0]
        ix.delete_row_ids([victim])
        ix.reload()
        assert not getattr(ix, "_local_dense_cache", {})  # invalidated
        after = ix.bm25_search_local("the ancient", top_k=10,
                                     operator_or=True, use_wand=True)
        assert victim not in [r for r, _ in after]
        want = [(r["row_id"], round(r["score"], 6)) for r in
                ix.bm25_search("the ancient", top_k=10,
                               operator_or=True).collect()]
        assert [(r, round(s, 6)) for r, s in after] == want

    @staticmethod
    def _fresh_dense(ix, monkeypatch, cap):
        monkeypatch.setattr(type(ix), "LOCAL_DENSE_MIN_DOCS", 1)
        monkeypatch.setattr(type(ix), "LOCAL_DENSE_MAX_BYTES", cap)
        if hasattr(ix, "_local_dense_cache"):
            ix._local_dense_cache.clear()

    def test_sparse_id_span_allocates_nothing(self, corpus_a_index,
                                              monkeypatch):
        """Density is measured against the term's id span, not the
        corpus size: 64 postings spread over 10^7 ids would need a 40 MB
        array for a 0.0006%-dense term, so the sparse gather keeps it."""
        import numpy as np

        ix = corpus_a_index
        self._fresh_dense(ix, monkeypatch, 2 << 30)
        d = np.linspace(0, 10 ** 7, 64).astype(np.int64)
        assert d.size >= ix.meta.total_docs * ix.LOCAL_DENSE_MIN_FRAC
        assert ix._dense_pos_for(("col3", "sparse"), d) is None
        assert ("col3", "sparse") not in getattr(ix, "_local_dense_cache",
                                                 {})
        dense = np.arange(0, 400, 2, dtype=np.int64)  # 50% of its span
        assert ix._dense_pos_for(("col3", "dense"), dense).size == 399

    def test_over_cap_entry_not_retained(self, corpus_a_index, monkeypatch):
        import numpy as np

        ix = corpus_a_index
        self._fresh_dense(ix, monkeypatch, 1000)
        small = np.arange(100, dtype=np.int64)  # 400 bytes
        assert ix._dense_pos_for(("col3", "small"), small) is not None
        big = np.arange(500, dtype=np.int64)  # 2000 bytes > cap
        assert ix._dense_pos_for(("col3", "big"), big) is None
        assert list(ix._local_dense_cache) == [("col3", "small")]
        assert ix._local_dense_bytes == 400

    def test_byte_counter_tracks_fills_and_evictions(self, corpus_a_index,
                                                     monkeypatch):
        import numpy as np

        ix = corpus_a_index
        self._fresh_dense(ix, monkeypatch, 3000)

        def check():
            cache = ix._local_dense_cache
            assert ix._local_dense_bytes == sum(
                e[0].nbytes for e in cache.values())
            assert ix._local_dense_bytes <= 3000

        for i, n in enumerate([200, 300, 100, 250, 700, 50, 600]):
            ix._dense_pos_for(("col3", f"t{i}"), np.arange(n, dtype=np.int64))
            check()
        assert ("col3", "t0") not in ix._local_dense_cache  # evicted
        # a refilled score-cache entry (new doc vector) replaces its array
        ix._dense_pos_for(("col3", "t6"), np.arange(10, dtype=np.int64))
        check()
        # eviction can free everything but the newest entry
        ix._dense_pos_for(("col3", "full"), np.arange(750, dtype=np.int64))
        check()
        assert list(ix._local_dense_cache) == [("col3", "full")]
        ix.reload()
        assert not ix._local_dense_cache
        ix._dense_pos_for(("col3", "t0"), np.arange(20, dtype=np.int64))
        check()
        assert ix._local_dense_bytes == 80
        ix._local_dense_cache.clear()
