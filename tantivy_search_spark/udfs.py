"""Arrow-vectorized tokenization helpers shared by build & query UDFs.

The Spark layer never uses row-at-a-time Python UDFs (input_hint: "no
per-row Python"); everything crosses the JVM/Python boundary as Arrow
batches (the segments stage via applyInArrow / mapInArrow), and the hot
loops below operate on whole Arrow arrays, pandas Series or numpy arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from tantivy_search_spark.tokenizers import (
    _resolve_stop_set,
    analyzer_from_config,
)


def tokenize_series(s: pd.Series, tokenizer_cfg: dict) -> pd.Series:
    """Series[str] -> Series[list[str]] using one column's analyzer chain.

    ``analyzer_from_config`` is lru-cached, so the chain is built once per
    executor; the per-element regex work happens in C via ``re``.
    """
    analyzer = analyzer_from_config(tokenizer_cfg)
    filled = s.fillna("")
    return filled.map(analyzer)


def tokenize_series_pos(
    s: pd.Series, tokenizer_cfg: dict
) -> tuple[pd.Series, pd.Series]:
    """Series[str] -> (Series[list[str]], Series[list[int]]) with tantivy
    position semantics: token-removing filters leave gaps in the
    numbering (see ``build_analyzer_pos``).  The token Series is
    identical to :func:`tokenize_series`'s output for the same config.
    """
    from tantivy_search_spark.tokenizers import analyzer_pos_from_config
    analyzer = analyzer_pos_from_config(tokenizer_cfg)
    filled = s.fillna("")
    pairs = filled.map(analyzer)
    return pairs.map(lambda tp: tp[0]), pairs.map(lambda tp: tp[1])


#: chains expressible entirely in Arrow C++ kernels (the build hot path);
#: `stem` additionally runs the Python stemmer — but over the token
#: DICTIONARY (distinct terms), not the token stream, so its cost is
#: O(vocab) instead of O(tokens) (zipf corpora: orders of magnitude)
_ARROW_FAST_TYPES = frozenset({"default", "simple", "whitespace", "raw",
                               "stem"})

# RE2 equivalents of the Python chain's re.UNICODE classes:
#   [^\W_]+ (runs of Unicode alphanumerics)  <->  split on [^\p{L}\p{N}]+
#   \S+  <->  split on Python's Unicode \s set (RE2's bare \s is
#   ASCII-only): 09-0D, 1C-1F, space, NEL, and the Z* categories
_SPLIT_NON_ALNUM = r"[^\p{L}\p{N}]+"
_SPLIT_WHITESPACE = "[\\t-\\r\\x1c-\\x1f \\x85\\p{Z}]+"


def arrow_fast_eligible(cfg: dict) -> bool:
    """``cfg`` is one column's config dict ({"tokenizer": {...}})."""
    t = cfg.get("tokenizer", {"type": "default"})
    if t.get("type", "default") not in _ARROW_FAST_TYPES:
        return False
    langs = t.get("stem_languages") or ()
    if langs:
        from tantivy_search_spark.stemmers import STEMMERS
        return all(str(lg).lower() in STEMMERS for lg in langs)
    return True


def term_doc_tf_arrow(
    s: pa.Array | pa.ChunkedArray | pd.Series, doc_ids: np.ndarray, cfg: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Fused tokenize + explode + tf-count in Arrow C++ kernels.

    Semantically identical to ``term_doc_tf(tokenize_series(s, cfg), ids)``
    for the default/simple/whitespace/raw chains (property-pinned in
    tests/test_arrow_tokenize.py), but never materializes per-token Python
    objects: split, length-filter, stopword filter, lowercase, and
    dictionary encoding all run on contiguous Arrow buffers.  Besides the
    ~several-fold single-thread speedup, this is what makes the build
    scale with executor threads — the PyObject version spends most of its
    time in allocator/kernel contention when 32 workers churn millions of
    small strings each (measured: 70% system CPU at local[32]).

    ``s`` is the text column as Arrow (the segments kernel passes its
    input column through untouched) or as a pandas Series.

    Returns (terms, t_docs, t_tfs, doclens); the first three sorted by
    (term_code, doc_id) with equal terms contiguous, doclens aligned with
    the input rows.
    """
    tok = cfg.get("tokenizer", {"type": "default"})
    ttype = tok.get("type", "default")
    assert ttype in _ARROW_FAST_TYPES, ttype
    n = len(s)
    if isinstance(s, pa.ChunkedArray):
        s = s.combine_chunks()
    # explicit string type: an all-null series infers NullType otherwise
    arr = (s if isinstance(s, pa.Array)
           else pa.Array.from_pandas(s, type=pa.string()))
    if arr.type != pa.string():
        arr = arr.cast(pa.string())
    if arr.null_count:
        arr = pc.fill_null(arr, "")
    stemmers = []
    for lang in tok.get("stem_languages", ()):
        from tantivy_search_spark.stemmers import get_stemmer
        stemmers.append(get_stemmer(str(lang).lower()))
    if ttype == "raw":
        flat = arr
        counts_per_doc = np.ones(n, dtype=np.int64)
        keep = pc.not_equal(pc.binary_length(flat), 0)
        limit = None
        stop = frozenset()
        lower = False
    else:
        if ttype == "whitespace":
            pattern = _SPLIT_WHITESPACE
        else:
            pattern = _SPLIT_NON_ALNUM
        limit = int(tok.get("length_limit", 40)) if ttype != "default" else 40
        stop = (_resolve_stop_set(tuple(tok.get("stop_word_filters", ())))
                if ttype != "default" else frozenset())
        lower = (not tok.get("case_sensitive", False)) \
            if ttype != "default" else True
        lists = pc.split_pattern_regex(arr, pattern)
        counts_per_doc = np.asarray(
            pc.list_value_length(lists), dtype=np.int64)
        flat = pc.list_flatten(lists)
        blen = pc.binary_length(flat)
        # tantivy RemoveLongFilter keeps utf8 byte length < limit (strict)
        keep = pc.and_(pc.not_equal(blen, 0), pc.less(blen, limit))
    if stop:
        # reference order: stopword match BEFORE lowercasing
        keep = pc.and_(keep, pc.invert(
            pc.is_in(flat, value_set=pa.array(sorted(stop)))))

    keep_np = np.asarray(keep, dtype=bool)
    doc_idx_all = np.repeat(np.arange(n, dtype=np.int64), counts_per_doc)
    doc_idx = doc_idx_all[keep_np]
    flat = pc.filter(flat, keep)
    if lower:
        flat = pc.utf8_lower(flat)

    doclens = np.bincount(doc_idx, minlength=n).astype(np.int64)
    if len(flat) == 0:
        return (np.empty(0, dtype=object), np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.int64), doclens)

    dict_arr = flat.dictionary_encode()
    codes = np.asarray(dict_arr.indices, dtype=np.int64)
    uniques = np.asarray(dict_arr.dictionary, dtype=object)

    if stemmers:
        # stem the DICTIONARY (distinct terms), then remap token codes —
        # token-identical to stemming the stream (stemmers lowercase
        # internally, so post-stem LowerCaser is a no-op), at O(vocab)
        # Python cost.  Distinct tokens may collapse to one stem, hence
        # the re-factorize.
        stemmed = uniques
        for stem in stemmers:
            stemmed = np.asarray([stem(u) for u in stemmed], dtype=object)
        scodes, suniq = pd.factorize(stemmed, sort=False)
        codes = scodes.astype(np.int64)[codes]
        uniques = np.asarray(suniq, dtype=object)

    key = codes * n + doc_idx
    uk, counts = np.unique(key, return_counts=True)
    t_codes = uk // n
    d_idx = uk % n
    return (
        uniques[t_codes],
        doc_ids[d_idx],
        counts.astype(np.int64),
        doclens,
    )


def term_doc_tf_pos(
    tokens: pd.Series, doc_ids: np.ndarray,
    positions: pd.Series | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Like :func:`term_doc_tf` but additionally returns the flat token
    positions (uint32) aligned with the sorted (term, doc) triples:
    triple i's positions are the next tf[i] entries, ascending.

    ``positions`` (from :func:`tokenize_series_pos`) carries tantivy's
    position model — assigned by the base tokenizer, with gaps where a
    removing filter (stop words, RemoveLong) dropped a token — so
    "quick the fox" does NOT phrase-match "quick fox" under a stop-word
    chain, exactly like the reference.  When ``positions`` is None the
    compacted post-filter stream index is used (identical for chains
    whose filters remove nothing).  Doclen stays the post-filter token
    count either way (tantivy fieldnorm counts indexed tokens).  Pure
    numpy: one lexsort over (key, pos), no per-token Python.
    """
    lens = tokens.map(len).to_numpy(dtype=np.int64)
    n_docs = doc_ids.shape[0]
    if lens.sum() == 0:
        e = np.empty(0, dtype=np.int64)
        return (np.empty(0, dtype=object), e, e, lens,
                np.empty(0, dtype=np.uint32))
    flat = np.concatenate([t if t else [] for t in tokens]).astype(object)
    codes, uniques = pd.factorize(flat, sort=False)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    if positions is not None:
        pos = np.concatenate(
            [p if len(p) else [] for p in positions]).astype(np.int64) \
            if int(positions.map(len).sum()) else np.empty(0, np.int64)
        if pos.shape[0] != flat.shape[0]:
            raise ValueError(
                f"positions/tokens misaligned: {pos.shape[0]} positions "
                f"for {flat.shape[0]} tokens")
    else:
        offsets = np.concatenate(([0], np.cumsum(lens)))[:-1]
        pos = (np.arange(flat.shape[0], dtype=np.int64)
               - np.repeat(offsets, lens))
    key = codes.astype(np.int64) * n_docs + doc_idx
    order = np.lexsort((pos, key))
    skey = key[order]
    uk, counts = np.unique(skey, return_counts=True)
    t_codes = uk // n_docs
    d_idx = uk % n_docs
    return (
        np.asarray(uniques, dtype=object)[t_codes],
        doc_ids[d_idx],
        counts.astype(np.int64),
        lens,
        pos[order].astype(np.uint32),
    )


def term_doc_tf(
    tokens: pd.Series, doc_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Explode per-doc token lists into sorted (term, doc_id, tf) triples.

    Returns (terms: object ndarray, doc_ids, tfs, doclens) where the first
    three are sorted by (term, doc_id) and doclens is per-input-doc raw
    token count (the fieldnorm source). Pure numpy/pandas — no per-token
    Python loop.
    """
    lens = tokens.map(len).to_numpy(dtype=np.int64)
    if lens.sum() == 0:
        return (
            np.empty(0, dtype=object),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            lens,
        )
    flat = np.concatenate([t if t else [] for t in tokens]).astype(object)
    # one string-hash pass (factorize), then pure-integer aggregation:
    # ~6x faster than an object-dtype pandas groupby on the same data
    codes, uniques = pd.factorize(flat, sort=False)
    n_docs = doc_ids.shape[0]
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    key = codes.astype(np.int64) * n_docs + doc_idx
    uk, counts = np.unique(key, return_counts=True)
    t_codes = uk // n_docs
    d_idx = uk % n_docs
    # doc_ids ascending within each term code (builder sorts by doc_id);
    # term codes are first-appearance order — fine, rows are per-term
    return (
        np.asarray(uniques, dtype=object)[t_codes],
        doc_ids[d_idx],
        counts.astype(np.int64),
        lens,
    )
