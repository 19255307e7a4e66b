"""Pure-python unit tests: fieldnorm table, tokenizer chains, bitmap
codec, LIKE->regex, posting block codec, config validation."""

import numpy as np
import pytest

from tantivy_search_spark import bitmap as bm
from tantivy_search_spark import fieldnorm as fn
from tantivy_search_spark.config import IndexConfig, verify_index_parameter
from tantivy_search_spark.index.layout import decode_blocks, encode_blocks
from tantivy_search_spark.tokenizers import build_analyzer


class TestFieldnorm:
    def test_identity_region(self):
        assert (fn.FIELD_NORMS_TABLE[:40] == np.arange(40)).all()

    def test_exponential_prefix(self):
        # Lucene/Tantivy byte4 ramp: 4 steps per octave after 40
        assert list(fn.FIELD_NORMS_TABLE[40:52]) == [
            40, 42, 44, 46, 48, 52, 56, 60, 64, 72, 80, 88]

    def test_monotonic(self):
        assert (np.diff(fn.FIELD_NORMS_TABLE.astype(np.int64)) > 0).all()

    def test_roundtrip_small_exact(self):
        lens = np.arange(40)
        assert (fn.quantize_len(lens) == lens).all()

    def test_quantize_rounds_down(self):
        assert fn.quantize_len(np.array([41]))[0] == 40
        assert fn.quantize_len(np.array([47]))[0] == 46
        assert fn.quantize_len(np.array([100_000]))[0] <= 100_000

    def test_encode_decode_consistent(self):
        lens = np.array([0, 1, 39, 40, 41, 1000, 10**6])
        ids = fn.fieldnorm_to_id(lens)
        vals = fn.id_to_fieldnorm(ids)
        assert (vals <= lens).all()
        # next id would overshoot
        nxt = np.minimum(ids.astype(int) + 1, 255)
        assert all(fn.FIELD_NORMS_TABLE[nxt[i]] > lens[i] or ids[i] == 255
                   for i in range(len(lens)))


class TestTokenizers:
    def test_default_chain(self):
        an = build_analyzer("default")
        assert an("Ancient empires rise and fall, shaping history's course.") == [
            "ancient", "empires", "rise", "and", "fall", "shaping",
            "history", "s", "course"]

    def test_default_underscore_splits(self):
        # Rust char::is_alphanumeric excludes '_'
        assert build_analyzer("default")("foo_bar baz") == ["foo", "bar", "baz"]

    def test_remove_long_is_bytes(self):
        an = build_analyzer("default")
        # 39 ascii chars kept, 40 dropped
        assert an("a" * 39) == ["a" * 39]
        assert an("a" * 40) == []
        # 20 two-byte chars = 40 utf-8 bytes -> dropped
        assert an("é" * 20) == []
        assert an("é" * 19) == ["é" * 19]

    def test_raw(self):
        an = build_analyzer("raw")
        assert an("Hello World!") == ["Hello World!"]
        assert an("") == []

    def test_simple_stopwords_before_lowercase(self):
        # stopword match is case-sensitive pre-lowering: "The" survives
        # the (lowercase) stopword list, then gets lowercased.
        an = build_analyzer(
            "simple", stop_word_filters=("english",), case_sensitive=False)
        assert an("The the dog") == ["the", "dog"]

    def test_simple_case_sensitive(self):
        an = build_analyzer("simple", case_sensitive=True)
        assert an("Hello HELLO hello") == ["Hello", "HELLO", "hello"]

    def test_whitespace(self):
        an = build_analyzer("whitespace")
        assert an("foo-bar baz.qux") == ["foo-bar", "baz.qux"]

    def test_ngram(self):
        an = build_analyzer("ngram", min_gram=2, max_gram=3)
        assert an("abc") == ["ab", "abc", "bc"]

    def test_ngram_prefix_only(self):
        an = build_analyzer("ngram", min_gram=2, max_gram=3, prefix_only=True)
        assert an("abcd") == ["ab", "abc"]

    def test_ngram_invalid(self):
        with pytest.raises(Exception):
            build_analyzer("ngram", min_gram=3, max_gram=3)

    def test_unicode_emoji_robust(self):
        # UTF-8 robustness (FunctionalFFI.cpp English corpus contains 🦠)
        an = build_analyzer("default")
        toks = an("virus🦠mutation is rapid")
        assert "virus" in toks and "mutation" in toks


class TestBitmapCodec:
    def test_golden_2_3_12(self):
        assert bm.row_ids_to_u8_bitmap([2, 3, 12]) == bytes([12, 16])

    def test_golden_0_17_26(self):
        assert bm.row_ids_to_u8_bitmap([0, 17, 26]) == bytes([1, 0, 2, 4])

    def test_empty(self):
        assert bm.row_ids_to_u8_bitmap([]) == b""
        assert bm.u8_bitmap_to_row_ids(b"").size == 0

    def test_roundtrip(self):
        ids = [0, 1, 7, 8, 63, 64, 1000]
        out = bm.u8_bitmap_to_row_ids(bm.row_ids_to_u8_bitmap(ids))
        assert list(out) == ids

    def test_is_row_id_exist(self):
        b = bm.row_ids_to_u8_bitmap([4])  # bytes([16])
        assert bm.is_row_id_exist(4, b)
        assert not bm.is_row_id_exist(3, b)
        assert not bm.is_row_id_exist(400, b)

    def test_mask_for_row_ids(self):
        b = bm.row_ids_to_u8_bitmap([1, 9, 300])
        ids = np.array([0, 1, 9, 10, 300, 10**9], dtype=np.int64)
        assert list(bm.mask_for_row_ids(ids, b)) == [
            False, True, True, False, True, False]


class TestLikeToRegex:
    # goldens from convert_utils.rs:115-150
    CASES = [
        ("a%b_c", "a.*b.c"),
        (r"a\%b\_c", "a%b_c"),
        (r"a\\%b", r"a\\.*b"),
        ("%", ".*"),
        ("_", "."),
        ("a.b", r"a\.b"),
        ("a+b", r"a\+b"),
        ("(a)[b]{c}|d^e$f", r"\(a\)\[b\]\{c\}\|d\^e\$f"),
        (r"a%b_c\%d\_e\\", r"a.*b.c%d_e\\"),
        ("An%ent", "An.*ent"),
        ("E%no__c", "E.*no..c"),
    ]

    @pytest.mark.parametrize("like,regex", CASES)
    def test_cases(self, like, regex):
        assert bm.like_to_regex(like) == regex


class TestBlockCodec:
    def test_roundtrip_multi_block(self):
        rng = np.random.default_rng(7)
        ids = np.unique(rng.integers(0, 10**9, 3000)).astype(np.int64)
        tfs = rng.integers(1, 50, ids.size).astype(np.int64)
        nms = rng.integers(0, 256, ids.size).astype(np.uint8)
        enc = encode_blocks(ids, tfs, nms, 128)
        d, t, m = decode_blocks(enc["block_first"], enc["deltas"], enc["tfs"],
                                enc["norms"], 128)
        assert (d == ids).all() and (t == tfs).all() and (m == nms).all()

    def test_block_max_metadata(self):
        ids = np.arange(0, 300, dtype=np.int64)
        tfs = np.arange(1, 301, dtype=np.int64)
        nms = np.full(300, 9, dtype=np.uint8)
        enc = encode_blocks(ids, tfs, nms, 128)
        assert list(enc["block_max_tf"]) == [128, 256, 300]
        assert list(enc["block_first"]) == [0, 128, 256]
        assert list(enc["block_last"]) == [127, 255, 299]

    def test_subset_decode(self):
        ids = np.arange(0, 1000, 3, dtype=np.int64)
        tfs = np.ones(ids.size, dtype=np.int64)
        nms = np.zeros(ids.size, dtype=np.uint8)
        enc = encode_blocks(ids, tfs, nms, 100)
        keep = np.array([False, True, False, True])
        d, _, _ = decode_blocks(enc["block_first"], enc["deltas"], enc["tfs"],
                                enc["norms"], 100, keep)
        assert (d == np.concatenate([ids[100:200], ids[300:]])).all()


class TestConfig:
    def test_valid_empty(self):
        assert verify_index_parameter("{}")

    def test_valid_stem(self):
        assert verify_index_parameter(
            '{"col1": {"tokenizer": {"type": "stem", "stop_word_filters":'
            ' ["english"], "stem_languages": ["english"], "length_limit": 30}}}')

    def test_unknown_type(self):
        assert not verify_index_parameter('{"c": {"tokenizer": {"type": "nope"}}}')

    def test_deny_unknown_fields(self):
        assert not verify_index_parameter(
            '{"c": {"tokenizer": {"type": "raw", "bogus": 1}}}')

    def test_bad_ngram(self):
        assert not verify_index_parameter(
            '{"c": {"tokenizer": {"type": "ngram", "min_gram": 3, "max_gram": 3}}}')

    def test_bad_json(self):
        assert not verify_index_parameter("not json")

    def test_roundtrip_meta(self):
        cfg = IndexConfig.from_json(["a"], '{"a": {"tokenizer": {"type": "raw"}}}')
        cfg2 = IndexConfig.from_meta_json(cfg.to_json())
        assert cfg2.columns == ["a"]
        assert not cfg2.lowercases("a")
        assert cfg2.lowercases("unconfigured")

    # Reference boundary vectors, transcribed 1:1 from
    # tests/unit_test/BoundaryIndexManager.cpp:38-80
    # (BoundaryTantivyCreateIndexWithTokenizerTest): every config the
    # reference accepts must validate here, every config it rejects
    # must fail here.
    REF_VALID = [
        '{"col1":{"tokenizer":{"type":"default"}}}',
        '{"col2":{"tokenizer":{"type":"default","store_doc":true}}}',
        '{"col3":{"tokenizer":{"type":"default","store_doc":false}}}',
        '{"col1":{"tokenizer":{"type":"raw","store_doc":false}}}',
        '{"col2":{"tokenizer":{"type":"raw","store_doc":true}}}',
        '{"col3":{"tokenizer":{"type":"raw","store_doc":true}},'
        ' "col2":{"tokenizer":{"type":"raw","store_doc":false}}}',
        '{"col1":{"tokenizer":{"type":"simple","stop_word_filters":'
        '["english"],"store_doc":true,"length_limit":50,'
        '"case_sensitive":false}}}',
        '{"col2":{"tokenizer":{"type":"stem","stop_word_filters":'
        '["english","french"],"stem_languages":["english","french"],'
        '"store_doc":true,"length_limit":60,"case_sensitive":true}}}',
        '{"col3":{"tokenizer":{"type":"whitespace","stop_word_filters":'
        '[],"store_doc":false,"length_limit":30,"case_sensitive":false}}}',
        '{"col1":{"tokenizer":{"type":"ngram","min_gram":1,"max_gram":4,'
        '"prefix_only":false,"stop_word_filters":["english"],'
        '"store_doc":true,"length_limit":40,"case_sensitive":true}}}',
        '{"col2":{"tokenizer":{"type":"chinese","jieba":"default",'
        '"mode":"search","hmm":false,"store_doc":true}}}',
    ]
    REF_INVALID = [
        '{"col1":{"tokenizer":{"type":"invalid_type"}}}',
        '{"col2":{"tokenizer":{"store_doc":true}}}',
        '{"col3":{"tokenizer":{"type":"simple","stop_word_filters":'
        '["invalid_language"]}}}',
        '{"col1":{"tokenizer":{"type":"stem","stem_languages":'
        '["unsupported_language"]}}}',
        '{"col2":{"tokenizer":{"type":"chinese","jieba":"invalid_value"}}}',
        '{"col3":{"tokenizer":{"type":"chinese","mode":"invalid_mode"}}}',
        '{"col1":{"tokenizer":{"type":"ngram","min_gram":4,"max_gram":2}}}',
        'hadjopew099-1ej1',
    ]

    def test_reference_valid_vectors(self):
        for s in self.REF_VALID:
            assert verify_index_parameter(s), s

    def test_reference_invalid_vectors(self):
        for s in self.REF_INVALID:
            assert not verify_index_parameter(s), s


class TestAssignDocIds:
    def test_deterministic_and_duplicate_free(self, spark):
        """RangePartitioner re-samples boundaries per job; without the
        pinned materialization the count and assignment jobs disagree
        and produce duplicate ids (observed 13k dups at 480k rows).
        Two runs must be bit-identical and collision-free."""
        from pyspark.sql import functions as F
        from tantivy_search_spark.index.builder import assign_doc_ids

        df = spark.range(0, 5000, 1, 16).select(
            F.concat(F.lit("k"), (F.col("id") * 2654435761 % 5000))
            .alias("key"),
            F.col("id").alias("payload"))
        hashes = []
        for _ in range(2):
            out = assign_doc_ids(df, ["key", "payload"])
            n = out.count()
            assert out.select("doc_id").distinct().count() == n
            ids = out.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
            assert (ids[0], ids[1]) == (0, n - 1)  # dense, zero-based
            hashes.append(out.agg(F.sum(F.crc32(F.concat_ws(
                ":", F.col("doc_id"), F.col("key"), F.col("payload")))))
                .collect()[0][0])
        assert hashes[0] == hashes[1]


    def test_string_keys_deterministic_path(self, spark):
        """All-string sort keys take the deterministic-boundary path (no
        localCheckpoint): ids must be dense, unique, GLOBALLY ordered by
        the sort key, and byte-stable across runs — including when
        num_parts exceeds the data's natural spread and when several
        pid groups share a hash-shuffled task."""
        from pyspark.sql import functions as F
        from tantivy_search_spark.index.builder import assign_doc_ids

        df = spark.range(0, 3000, 1, 16).select(
            F.concat(F.lit("r"), F.format_string(
                "%05d", (F.col("id") * 2654435761) % 100000)).alias("repo"),
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"))
        for p in (1, 7, 64):
            out = assign_doc_ids(df, ["repo", "path"], num_parts=p, strategy="deterministic")
            rows = out.collect()
            n = len(rows)
            ids = sorted(r["doc_id"] for r in rows)
            assert ids == list(range(n))
            by_id = sorted(rows, key=lambda r: r["doc_id"])
            keys = [(r["repo"], r["path"]) for r in by_id]
            assert keys == sorted(keys)  # id order == global sort order
        # repeat-run stability at one p
        a = {(r["repo"], r["path"]): r["doc_id"]
             for r in assign_doc_ids(df, ["repo", "path"], num_parts=7, strategy="deterministic").collect()}
        b = {(r["repo"], r["path"]): r["doc_id"]
             for r in assign_doc_ids(df, ["repo", "path"], num_parts=7, strategy="deterministic").collect()}
        assert a == b

    def test_string_keys_with_nulls(self, spark):
        from pyspark.sql import functions as F
        from tantivy_search_spark.index.builder import assign_doc_ids

        df = spark.range(0, 200).select(
            F.when(F.col("id") % 17 == 0, F.lit(None))
             .otherwise(F.concat(F.lit("k"), F.col("id").cast("string")))
             .alias("key"))
        out = assign_doc_ids(df, ["key"], num_parts=5, strategy="deterministic")
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == list(range(200))


class TestBitmapResultCache:
    """Reference CACHE_FOR_SKIP_INDEX analog: repeated bitmap queries hit
    a bounded result cache; commit/delete (reload) invalidates."""

    def test_warm_bitmap_runs_no_spark_job(self, corpus_a_index):
        ix = corpus_a_index
        first = ix.query_term_bitmap("col1", "Ancient")
        tracker = ix.spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        again = ix.query_term_bitmap("col1", "Ancient")
        after = tracker.getJobIdsForGroup(None)
        assert again == first
        assert len(after) == len(before), "warm bitmap query ran a job"

    def test_delete_invalidates(self, spark, tmp_path):
        from tantivy_search_spark.config import IndexConfig
        from tantivy_search_spark.index.builder import IndexBuilder
        from tantivy_search_spark.search.engine import SearchIndex
        from corpora import corpus_a_rows

        path = str(tmp_path / "bc_idx")
        cfg = IndexConfig.from_json(["col1", "col2", "col3"], "{}")
        IndexBuilder(spark, path, cfg, rows_per_part=2).build(
            spark.createDataFrame(corpus_a_rows()), id_col="doc_id")
        ix = SearchIndex(spark, path)
        assert ix.query_term_bitmap("col1", "Ancient") == bytes([17])
        ix.delete_row_ids([0])
        assert ix.query_term_bitmap("col1", "Ancient") == bytes([16])


class TestReaderClose:
    def test_close_releases_and_reader_survives(self, corpus_a_index):
        """ffi_free_index_reader analog: close() drops caches and
        broadcasts; the reader keeps answering (re-warms)."""
        ix = corpus_a_index
        ix.enable_stats_cache()
        ix.enable_local_cache()
        before = ix.bm25_search_local("ancient rise", top_k=5,
                                      operator_or=True)
        ix.query_term_bitmap("col1", "Ancient")
        ix.close()
        assert ix._stats_cache is None
        assert not ix._local_cache and not ix._bitmap_cache
        after = ix.bm25_search_local("ancient rise", top_k=5,
                                     operator_or=True)
        assert after == before


def _random_runs(rng, nterms):
    """Per-term (docs, tfs, norms, positions) runs + their concatenation
    in the (term, doc)-sorted layout the segments kernel encodes."""
    import numpy as np

    runs = []
    for _ in range(nterms):
        n = int(rng.integers(1, 300))
        docs = np.sort(rng.choice(100_000, size=n, replace=False))
        tfs = rng.integers(1, 50, size=n).astype(np.int64)
        norms = rng.integers(0, 256, size=n).astype(np.uint8)
        pos = rng.integers(0, 10_000, size=int(tfs.sum())).astype(np.uint32)
        runs.append((docs.astype(np.int64), tfs, norms, pos))
    bounds = np.concatenate(([0], np.cumsum([r[0].size for r in runs])))
    flat = [np.concatenate([r[k] for r in runs]) if runs
            else np.empty(0, np.int64) for k in range(4)]
    return runs, bounds.astype(np.int64), flat


class TestEncodeBlocksArrow:
    def test_equals_per_term_encode(self):
        """encode_blocks_arrow must be byte-identical to per-term
        encode_blocks over random multi-term posting sets, positions
        buffer included."""
        import numpy as np
        from tantivy_search_spark.index.layout import (
            encode_blocks, encode_blocks_arrow)

        rng = np.random.default_rng(13)
        for trial in range(20):
            runs, bounds, (t_docs, t_tfs, t_norms, t_pos) = _random_runs(
                rng, int(rng.integers(1, 40)))
            bs = int(rng.choice([4, 16, 128]))
            with_pos = bool(trial % 2)
            enc = encode_blocks_arrow(t_docs, t_tfs, t_norms, bounds, bs,
                                      t_pos if with_pos else None)
            assert {len(a) for a in enc.values()} == {len(runs)}
            for i, (docs, tfs, norms, pos) in enumerate(runs):
                one = encode_blocks(docs, tfs, norms, bs)
                assert enc["df"][i].as_py() == one["df"], (trial, i)
                for k in ("block_first", "block_last", "block_max_tf",
                          "block_min_norm"):
                    assert enc[k][i].as_py() == one[k].tolist(), (k, i)
                for k in ("deltas", "tfs", "norms"):
                    assert enc[k][i].as_py() == one[k], (k, i)
                assert enc["positions"][i].as_py() == (
                    pos.tobytes() if with_pos else b"")
                assert enc["sum_tf"][i].as_py() == int(tfs.sum())

    def test_types_match_segments_schema(self):
        import numpy as np
        from tantivy_search_spark.index import layout

        rng = np.random.default_rng(3)
        _, bounds, (d, t, n, p) = _random_runs(rng, 5)
        enc = layout.encode_blocks_arrow(d, t, n, bounds, 16, p)
        for k, a in enc.items():
            assert a.type == layout.SEGMENTS_ARROW_SCHEMA.field(k).type, k

    def test_empty_input(self):
        import numpy as np
        from tantivy_search_spark.index.layout import encode_blocks_arrow

        e64 = np.empty(0, np.int64)
        for pos in (None, np.empty(0, np.uint32)):
            enc = encode_blocks_arrow(e64, e64, np.empty(0, np.uint8),
                                      np.array([0]), 16, pos)
            assert {k: len(a) for k, a in enc.items()} == {
                k: 0 for k in enc}

    def test_term_slices_keep_binary_columns_in_bounds(self, monkeypatch):
        """A part whose streams would overflow one Arrow binary array is
        cut into term runs; encoding the runs gives the same rows."""
        import numpy as np
        from tantivy_search_spark.index import layout

        rng = np.random.default_rng(5)
        runs, bounds, (d, t, n, p) = _random_runs(rng, 30)
        whole = layout.encode_blocks_arrow(d, t, n, bounds, 16, p)
        cap = int(max(4 * (bounds[1:] - bounds[:-1]).max(),
                      4 * max(r[1].sum() for r in runs)))
        monkeypatch.setattr(layout, "MAX_BINARY_BYTES", cap)
        slices = layout.term_slices(bounds, t, with_positions=True)
        assert len(slices) > 1
        assert slices[0][0] == 0 and slices[-1][1] == len(runs)
        assert all(a[1] == b[0] for a, b in zip(slices, slices[1:]))
        cum = np.concatenate(([0], np.cumsum(t)))
        rows = []
        for i0, i1 in slices:
            b0, b1 = bounds[i0], bounds[i1]
            enc = layout.encode_blocks_arrow(
                d[b0:b1], t[b0:b1], n[b0:b1], bounds[i0:i1 + 1] - b0, 16,
                p[cum[b0]:cum[b1]])
            assert max(len(enc[k].buffers()[2] or b"") for k in
                       ("deltas", "tfs", "positions")) <= cap
            rows.extend(zip(*(enc[k].to_pylist() for k in sorted(enc))))
        assert rows == list(zip(*(whole[k].to_pylist()
                                  for k in sorted(whole))))
        # one term larger than an array can hold is refused, not split
        monkeypatch.setattr(layout, "MAX_BINARY_BYTES", 3)
        with pytest.raises(ValueError, match="overflows Arrow"):
            layout.encode_blocks_arrow(d, t, n, bounds, 16, p)


class TestPositionsCodec:
    def test_positions_survive_merge_and_split(self):
        """Positions buffers must track their postings exactly through
        _concat_rows_to_subs (merge + sub-split), for random runs."""
        import numpy as np
        import pandas as pd
        from tantivy_search_spark.index.builder import _concat_rows_to_subs
        from tantivy_search_spark.index.layout import (
            decode_blocks, decode_positions, encode_blocks)

        rng = np.random.default_rng(7)
        for trial in range(10):
            bs = int(rng.choice([4, 16]))
            # disjoint sorted doc runs with per-posting position lists
            base = 0
            rows = []
            truth = []  # (doc, positions tuple) in doc order
            for _ in range(int(rng.integers(1, 5))):
                n = int(rng.integers(1, 60))
                docs = base + np.sort(
                    rng.choice(1000, size=n, replace=False))
                base = int(docs[-1]) + 1
                tfs = rng.integers(1, 6, size=n).astype(np.int64)
                norms = rng.integers(0, 256, size=n).astype(np.int64)
                pos_runs = [np.sort(rng.choice(500, size=int(t),
                                               replace=False)).astype(
                    np.uint32) for t in tfs]
                flat = np.concatenate(pos_runs)
                enc = encode_blocks(docs, tfs, norms, bs)
                rows.append({
                    "bucket": 0, "col": "c", "term": "t", "shard": 0,
                    "sub": 0, "df": enc["df"],
                    "block_first": enc["block_first"],
                    "block_last": enc["block_last"],
                    "block_max_tf": enc["block_max_tf"],
                    "block_min_norm": enc["block_min_norm"],
                    "deltas": enc["deltas"], "tfs": enc["tfs"],
                    "norms": enc["norms"],
                    "positions": flat.tobytes(),
                })
                truth.extend((int(d), tuple(pr.tolist()))
                             for d, pr in zip(docs, pos_runs))
            out = _concat_rows_to_subs(pd.DataFrame(rows), bs,
                                       max_postings_per_sub=37)
            got = []
            for r in out.itertuples(index=False):
                d, tf, nm = decode_blocks(r.block_first, r.deltas,
                                          r.tfs, r.norms, bs)
                flat, offs = decode_positions(
                    r.positions, np.frombuffer(r.tfs, np.uint32))
                for j in range(d.size):
                    got.append((int(d[j]),
                                tuple(flat[offs[j]:offs[j + 1]].tolist())))
            assert sorted(got) == sorted(truth), trial


class TestSynthCorpusDocIds:
    def test_with_doc_id_streamable(self, spark):
        """with_doc_id=True injects the range id as doc_id without
        changing any generated column, and each partition carries a
        contiguous non-overlapping ascending id range — the exact
        contract IndexBuilder(segment_shuffle='stream') enforces, so
        generator-fed builds can skip the staging sort entirely."""
        from tantivy_search_spark.codecorpus import synth_code_corpus

        a = synth_code_corpus(spark, 400, num_partitions=4,
                              ident_frac=0.35, with_doc_id=True)
        b = synth_code_corpus(spark, 400, num_partitions=4,
                              ident_frac=0.35)
        pa_, pb = a.toPandas(), b.toPandas()
        assert list(pa_.columns) == ["doc_id", "repo", "path", "commit",
                                     "lang", "content"]
        assert sorted(pa_["doc_id"]) == list(range(400))
        assert pa_.drop(columns=["doc_id"]).equals(pb)
        parts = a.rdd.mapPartitions(
            lambda it: [[r["doc_id"] for r in it]]).collect()
        rngs = []
        for p in parts:
            assert all(x < y for x, y in zip(p, p[1:]))
            rngs.append((p[0], p[-1]))
        rngs.sort()
        assert all(r1[1] < r2[0] for r1, r2 in zip(rngs, rngs[1:]))


class TestPartBounds:
    """layout.part_bounds: dense-descriptor expansion edge cases."""

    def _meta(self, **kw):
        from tantivy_search_spark.index.layout import IndexMeta
        return IndexMeta(config_json="{}", **kw)

    def test_explicit_list_passthrough(self):
        from tantivy_search_spark.index.layout import part_bounds
        pr = [[0, 0, 4, 5], [1, 5, 9, 5]]
        assert part_bounds(self._meta(part_ranges=pr)) == pr

    def test_dense_exact_multiple(self):
        from tantivy_search_spark.index.layout import part_bounds
        m = self._meta(part_ranges=None, dense_ranges=[10, 5])
        assert part_bounds(m) == [[0, 0, 4, 5], [1, 5, 9, 5]]

    def test_dense_ragged_tail(self):
        from tantivy_search_spark.index.layout import part_bounds
        m = self._meta(part_ranges=None, dense_ranges=[7, 3])
        assert part_bounds(m) == [[0, 0, 2, 3], [1, 3, 5, 3], [2, 6, 6, 1]]

    def test_dense_single_short_part(self):
        from tantivy_search_spark.index.layout import part_bounds
        m = self._meta(part_ranges=None, dense_ranges=[2, 100])
        assert part_bounds(m) == [[0, 0, 1, 2]]

    def test_dense_zero_docs(self):
        from tantivy_search_spark.index.layout import part_bounds
        m = self._meta(part_ranges=None, dense_ranges=[0, 100])
        assert part_bounds(m) == []

    def test_legacy_meta_none(self):
        from tantivy_search_spark.index.layout import part_bounds
        assert part_bounds(self._meta(part_ranges=None)) is None

    def test_empty_list_stays_empty(self):
        # zero-doc copy builds record [] (not None) — must not be
        # mistaken for a legacy meta
        from tantivy_search_spark.index.layout import part_bounds
        assert part_bounds(self._meta(part_ranges=[])) == []
