"""Delete semantics (reference B6, api_delete_row_ids.rs:45-78 /
FunctionalFFI.cpp:66-75) and checkpoint/resume fault-injection
(north_rule: resumable from checkpoint with per-partition lineage)."""

import json
import os
import shutil

import pytest

from corpora import corpus_a_rows


@pytest.fixture()
def fresh_index(spark, tmp_path):
    from tantivy_search_spark.config import IndexConfig
    from tantivy_search_spark.index.builder import IndexBuilder
    from tantivy_search_spark.search.engine import SearchIndex

    path = str(tmp_path / "idx")
    cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
    IndexBuilder(spark, path, cfg, rows_per_part=2).build(
        spark.createDataFrame(corpus_a_rows()), id_col="doc_id")
    return SearchIndex(spark, path)


class TestDeletes:
    def test_delete_rust_variant(self, fresh_index):
        """Delete {0,1,2,3}: 'Ancient' hits drop 2 -> 1 (row 4 remains)."""
        ix = fresh_index
        assert ix.bm25_search("Ancient", top_k=100, operator_or=True).count() == 2
        assert ix.delete_row_ids([0, 1, 2, 3])
        got = ix.bm25_search("Ancient", top_k=100, operator_or=True).collect()
        assert [r["row_id"] for r in got] == [4]

    def test_delete_nonexistent_tolerated(self, fresh_index):
        ix = fresh_index
        assert ix.delete_row_ids([0, 6, 1000])  # 6/1000 don't exist
        got = ix.query_term_bitmap("col1", "Ancient")
        assert got == bytes([16])  # only row 4 left

    def test_delete_affects_bitmaps_and_counts(self, fresh_index):
        ix = fresh_index
        ix.delete_row_ids([4])
        assert ix.query_term_bitmap("col1", "Ancient") == bytes([1])
        assert ix.get_indexed_doc_counts() == 4
        assert ix.regex_term_bitmap("col1", "An%ent") == bytes([1])


class TestLargeDeleteSets:
    def test_anti_join_path_no_driver_materialization(self, fresh_index):
        """Past TOMBSTONE_BROADCAST_MAX the distributed paths must switch
        to the left-anti-join plan: the driver never builds the id
        array, and results still exclude the deleted rows."""
        import numpy as np
        import pandas as pd

        ix = fresh_index
        # tombstone 1M+ ids directly (delete_row_ids would route a python
        # list through the driver; at this scale a real deployment writes
        # the tombstone table with a Spark job, which is what we emulate)
        tomb_path = os.path.join(ix.index_path, "tombstones")
        ids = np.concatenate([np.arange(10, 1_200_000, dtype=np.int64),
                              np.array([0, 1, 2, 3], dtype=np.int64)])
        ix.spark.createDataFrame(pd.DataFrame({"doc_id": ids})) \
            .write.mode("append").parquet(tomb_path)
        ix.reload()

        assert ix._tombstone_count() > ix.TOMBSTONE_BROADCAST_MAX
        assert ix._tombstone_small_array() is None
        assert ix._tombstones is None  # nothing materialized on the driver

        got = ix.bm25_search("Ancient", top_k=100, operator_or=True).collect()
        assert [r["row_id"] for r in got] == [4]
        assert ix.query_term_bitmap("col1", "Ancient") == bytes([16])
        # wand routes through the exact path (pruning bounds ignore
        # tombstones) and must agree
        got_w = ix.bm25_search("Ancient", top_k=100, operator_or=True,
                               use_wand=True).collect()
        assert [r["row_id"] for r in got_w] == [4]
        assert ix._tombstones is None  # still nothing on the driver
        assert ix.get_indexed_doc_counts() == ix.meta.total_docs - 1_199_994


class TestSwapRecovery:
    def test_interrupted_compact_swap_rolls_back(self, fresh_index):
        """Crash window between the two renames: live postings dir gone,
        _old intact -> the next reader open must restore it."""
        from tantivy_search_spark.search.engine import SearchIndex

        ix = fresh_index
        postings = os.path.join(ix.index_path, "postings")
        os.rename(postings, postings + "_old")  # simulate mid-swap crash
        os.makedirs(postings + "_compacting")   # writer temp left behind
        ix2 = SearchIndex(ix.spark, ix.index_path)
        assert os.path.exists(postings) and not os.path.exists(postings + "_old")
        # reader recovery must NOT delete a possibly-live writer temp
        assert os.path.exists(postings + "_compacting")
        assert ix2.bm25_search("Ancient", top_k=10, operator_or=True).count() == 2
        shutil.rmtree(postings + "_compacting")

    def test_completed_swap_drops_old(self, fresh_index):
        from tantivy_search_spark.index import layout

        ix = fresh_index
        stats = os.path.join(ix.index_path, "stats")
        shutil.copytree(stats, stats + "_old")
        layout.recover_swaps(ix.index_path)
        assert os.path.exists(stats) and not os.path.exists(stats + "_old")


class TestResume:
    def test_chunk_resume_skips_completed(self, spark, tmp_path):
        """Kill after chunk 0 -> restart completes and skips chunk 0."""
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex
        from corpora import part0_rows, part1_rows

        path = str(tmp_path / "resume_idx")
        rows = part0_rows(0) + part1_rows(10)
        df = spark.createDataFrame(rows)

        cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
        b = IndexBuilder(spark, path, cfg, rows_per_part=5)

        # simulate a crash mid-build: run build but blow up inside chunk 1
        # by monkeypatching the checkpoint writer after chunk 0 completes
        orig = b._ckpt_write
        state = {"count": 0}

        def bomb(name, payload):
            orig(name, payload)
            if name == "segments_chunk0":
                raise RuntimeError("injected crash after chunk 0")

        b._ckpt_write = bomb
        with pytest.raises(RuntimeError):
            b.build(df, id_col="doc_id", n_chunks=3)

        # chunk0 checkpoint exists, chunk1/2 don't, no meta yet
        ckdir = os.path.join(path, "_checkpoints")
        assert os.path.exists(os.path.join(ckdir, "segments_chunk0.json"))
        assert not os.path.exists(os.path.join(ckdir, "segments_chunk1.json"))
        assert not os.path.exists(os.path.join(path, "_index_meta.json"))

        # restart: fresh builder finishes, reusing chunk 0
        chunk0_mtime = os.path.getmtime(os.path.join(ckdir, "segments_chunk0.json"))
        b2 = IndexBuilder(spark, path, cfg, rows_per_part=5)
        meta = b2.build(df, id_col="doc_id", n_chunks=3)
        assert os.path.getmtime(
            os.path.join(ckdir, "segments_chunk0.json")) == chunk0_mtime
        assert meta.total_docs == 30

        # resumed index answers correctly
        ix = SearchIndex(spark, path)
        assert ix.bm25_search("Human health", top_k=100).count() == 2

        # lineage recorded per part
        with open(os.path.join(ckdir, "segments_chunk0.json")) as f:
            ck = json.load(f)
        assert ck["docs_per_sec"] > 0
        assert len(ck["lineage"]) >= 1
        assert {"part_id", "terms", "postings", "tokens"} <= set(ck["lineage"][0])

    def test_resume_rows_per_part_mismatch_raises(self, spark, tmp_path):
        """A crashed build resumed with a different rows_per_part must
        refuse: later stages would mix the checkpointed part ranges
        with the new value."""
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex

        path = str(tmp_path / "resume_rpp")
        cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
        df = spark.createDataFrame(corpus_a_rows())
        b = IndexBuilder(spark, path, cfg, rows_per_part=2)
        orig = b._ckpt_write

        def bomb(name, payload):
            orig(name, payload)
            if name == "docs":
                raise RuntimeError("injected crash after docs stage")

        b._ckpt_write = bomb
        with pytest.raises(RuntimeError, match="injected"):
            b.build(df, id_col="doc_id")
        with pytest.raises(ValueError, match="rows_per_part=2"):
            IndexBuilder(spark, path, cfg, rows_per_part=3).build(
                df, id_col="doc_id")
        # resuming with the SAME value completes and serves
        meta = IndexBuilder(spark, path, cfg, rows_per_part=2).build(
            df, id_col="doc_id")
        assert meta.total_docs == len(corpus_a_rows())
        ix = SearchIndex(spark, path)
        assert ix.bm25_search("ancient", top_k=10).count() > 0

    def test_full_rebuild_after_done_is_noop(self, spark, tmp_path):
        """Re-running build over a completed index skips all stages."""
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder

        path = str(tmp_path / "noop_idx")
        cfg = IndexConfig.from_json(["col1"], "{}")
        df = spark.createDataFrame(corpus_a_rows())
        b = IndexBuilder(spark, path, cfg, rows_per_part=2)
        m1 = b.build(df, id_col="doc_id")
        t0 = os.path.getmtime(os.path.join(path, "_checkpoints", "merge.json"))
        m2 = IndexBuilder(spark, path, cfg, rows_per_part=2).build(df, id_col="doc_id")
        assert os.path.getmtime(
            os.path.join(path, "_checkpoints", "merge.json")) == t0
        assert m2.total_docs == m1.total_docs

    def test_resume_between_stats_and_merge(self, spark, tmp_path,
                                            monkeypatch):
        """The stats table is written from the fragments before the
        merge, which reads its hot terms from it: a build stopped after
        the stats checkpoint resumes to an index row-identical to an
        uninterrupted build, without redoing the stats stage."""
        import pyarrow.dataset as ds

        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from corpora import part0_rows, part1_rows

        cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
        cfg.parts_per_shard = 2
        df = spark.createDataFrame(part0_rows(0) + part1_rows(10))

        def builder(path):
            b = IndexBuilder(spark, path, cfg, rows_per_part=3)
            b.merge_hot_df = 3  # some terms merge, the rest pass through
            return b

        def rows(path, sub):
            tbl = ds.dataset(os.path.join(path, sub),
                             partitioning="hive").to_table()
            return sorted(tuple(tuple(v) if isinstance(v, list) else v
                                for v in r.values())
                          for r in tbl.to_pylist())

        ref = str(tmp_path / "ref")
        builder(ref).build(df, id_col="doc_id")

        path = str(tmp_path / "stopped")

        def stop(*a, **k):
            raise RuntimeError("stopped before the merge")

        with monkeypatch.context() as m:
            m.setattr(IndexBuilder, "_merge_fragments", stop)
            with pytest.raises(RuntimeError, match="before the merge"):
                builder(path).build(df, id_col="doc_id")
        ckdir = os.path.join(path, "_checkpoints")
        assert os.path.exists(os.path.join(ckdir, "stats.json"))
        assert not os.path.exists(os.path.join(ckdir, "merge.json"))
        t_stats = os.path.getmtime(os.path.join(ckdir, "stats.json"))

        builder(path).build(df, id_col="doc_id")
        assert os.path.getmtime(os.path.join(ckdir, "stats.json")) == t_stats
        for sub in ("postings", "stats"):
            assert rows(path, sub) == rows(ref, sub), sub
        # a merge ran: hot terms folded their fragments
        assert len(rows(path, "postings")) < len(rows(path, "segments"))


class TestDurableIds:
    def test_staged_ids_equal_checkpoint_ids(self, spark, tmp_path):
        """assign_doc_ids_staged (parquet-staged, executor-loss-safe)
        must produce the same (doc_id, key) mapping as the
        localCheckpoint path for unique sort keys."""
        from tantivy_search_spark.index.builder import (
            assign_doc_ids, assign_doc_ids_staged)
        import pyspark.sql.functions as F

        df = spark.range(0, 5000).select(
            F.concat(F.lit("k"), F.format_string("%06d",
                     (F.col("id") * 37) % 5000)).alias("key"),
            (F.col("id") % 97).alias("v"))
        a = {r["key"]: r["doc_id"] for r in
             assign_doc_ids(df, ["key"], num_parts=7).collect()}
        b = {r["key"]: r["doc_id"] for r in
             assign_doc_ids_staged(df, ["key"],
                                   str(tmp_path / "presort"),
                                   num_parts=7).collect()}
        assert a == b
        assert sorted(a.values()) == list(range(5000))

    def test_durable_build_queries_equal(self, spark, tmp_path):
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex
        from corpora import corpus_a_rows
        import os

        df = spark.createDataFrame(corpus_a_rows()).drop("doc_id")
        paths = {}
        for durable in (False, True):
            p = str(tmp_path / f"idx_{durable}")
            cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
            IndexBuilder(spark, p, cfg, rows_per_part=2,
                         durable_ids=durable).build(
                df, order_cols=["col1"])
            paths[durable] = p
        assert not os.path.exists(
            os.path.join(paths[True], "_staged_presort"))
        res = {}
        for durable, p in paths.items():
            ix = SearchIndex(spark, p)
            res[durable] = [(r["row_id"], round(r["score"], 6)) for r in
                            ix.bm25_search("ancient rise fall", top_k=10,
                                           operator_or=True).collect()]
        assert res[True] == res[False] and res[True]


class TestBatchWithDeletes:
    """bm25_search_batch == sequential under both tombstone tiers: the
    packed batch path is gated on the broadcast tier and must fall back
    to the scalar rows + anti-join past TOMBSTONE_BROADCAST_MAX."""

    BATCH = [("Ancient empires rise and fall", True),
             ("moral horizons", False),
             ("ancient", True)]

    def _assert_batch_equals_sequential(self, ix):
        got = ix.bm25_search_batch(self.BATCH, top_k=5).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(
                (r["row_id"], round(r["score"], 4)))
        for qid, (s, op_or) in enumerate(self.BATCH):
            want = [(r["row_id"], round(r["score"], 4)) for r in
                    ix.bm25_search(s, top_k=5, operator_or=op_or).collect()]
            assert by_q.get(qid, []) == want, f"query {qid}: {s!r}"

    def test_batch_broadcast_tier(self, fresh_index):
        ix = fresh_index
        assert ix.delete_row_ids([0, 2])
        assert ix._tombstone_small_array() is not None  # packed path live
        self._assert_batch_equals_sequential(ix)

    def test_batch_anti_join_tier(self, fresh_index, monkeypatch):
        ix = fresh_index
        assert ix.delete_row_ids([0, 2])
        monkeypatch.setattr(type(ix), "TOMBSTONE_BROADCAST_MAX", 0)
        assert ix._tombstone_small_array() is None  # scalar fallback
        self._assert_batch_equals_sequential(ix)


class TestBitmapBytesPath:
    """The bitmap bytes path collects doc ids without the distinct()
    exchange (packing a bitmap ignores duplicates); the public
    ``*_bitmap_df`` frames stay distinct."""

    QUERIES = [("terms", ["ancient", "the", "rise"]),
               ("sentence", "the ancient empires of the past"),
               ("regex", "%an%")]

    def _bytes(self, ix, kind, q):
        return {"terms": ix.query_terms_bitmap,
                "sentence": ix.query_sentence_bitmap,
                "regex": ix.regex_term_bitmap}[kind]("col3", q)

    def _check(self, ix):
        from tantivy_search_spark.bitmap import row_ids_to_u8_bitmap
        from tantivy_search_spark.search.engine import SearchIndex

        local = SearchIndex.open_local(ix.index_path)
        try:
            for kind, q in self.QUERIES:
                df = {"terms": ix.query_terms_bitmap_df,
                      "sentence": ix.query_sentence_bitmap_df,
                      "regex": ix.regex_term_bitmap_df}[kind]("col3", q)
                ids = [r["row_id"] for r in df.collect()]
                assert len(ids) == len(set(ids)), kind  # df stays distinct
                got = self._bytes(ix, kind, q)
                assert got == row_ids_to_u8_bitmap(ids), kind
                assert got == self._bytes(local, kind, q), kind
        finally:
            local.close()

    def test_terms_share_docs(self, fresh_index):
        """The queries' terms overlap in docs, so the bytes path really
        sees duplicate ids."""
        ix = fresh_index
        toks = ix.config.analyzer("col3")("the ancient empires of the past")
        raw = ix._doc_ids_for_terms("col3", toks, distinct=False).collect()
        assert len(raw) > len({r["row_id"] for r in raw})
        self._check(ix)

    def test_bytes_plan_has_no_exchange(self, fresh_index):
        """No shuffle Exchange (a broadcast of the regex's matching
        terms is fine) on the bytes path; the df path keeps one."""
        import re

        from test_plans import _plan

        def shuffles(df):
            return re.findall(r"(?<!Broadcast)Exchange", _plan(df))

        ix = fresh_index
        toks = ix.config.analyzer("col3")("the ancient empires")
        assert not shuffles(
            ix._doc_ids_for_terms("col3", toks, distinct=False))
        assert shuffles(ix._doc_ids_for_terms("col3", toks))
        assert not shuffles(ix._regex_ids("col3", "%an%", distinct=False))
        assert shuffles(ix.regex_term_bitmap_df("col3", "%an%"))

    def test_broadcast_tier(self, fresh_index):
        ix = fresh_index
        assert ix.delete_row_ids([0, 2])
        assert ix._tombstone_small_array() is not None
        self._check(ix)

    def test_anti_join_tier(self, fresh_index, monkeypatch):
        ix = fresh_index
        assert ix.delete_row_ids([0, 2])
        monkeypatch.setattr(type(ix), "TOMBSTONE_BROADCAST_MAX", 0)
        assert ix._tombstone_small_array() is None
        self._check(ix)
