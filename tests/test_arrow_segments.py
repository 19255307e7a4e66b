"""The segments stage (Arrow grouped map, or ``mapInArrow`` on ordered
input) writes fragment rows equal to a reference assembled term by term
from ``layout.encode_blocks`` — on the Arrow tokenizer chain, a Python
chain and the positions path, in group and stream mode and on append."""

import json
import os
import zlib

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pytest

from corpora import part0_rows, part1_rows

ROWS_PER_PART = 4
FIELDS = ["part_id", "bucket", "col", "term", "shard", "sub", "df",
          "block_first", "block_last", "block_max_tf", "block_min_norm",
          "deltas", "tfs", "norms", "positions", "sum_tf"]


def _cfg(with_positions: bool):
    from tantivy_search_spark.config import IndexConfig

    # col1 takes a Python chain (ngram is not Arrow-expressible); col2 and
    # col3 the default chain, i.e. the Arrow fast path unless positions
    # are on (positions always tokenize in Python)
    spec = {"col1": {"tokenizer": {"type": "ngram", "min_gram": 2,
                                   "max_gram": 3}}}
    cfg = IndexConfig.from_json(["col1", "col2", "col3"], json.dumps(spec))
    cfg.n_buckets = 8
    cfg.parts_per_shard = 2
    cfg.with_positions = with_positions
    return cfg


def _reference(rows: list[dict], cfg) -> list[tuple]:
    """Fragment rows, one encode_blocks call per (part, col, term)."""
    from tantivy_search_spark.fieldnorm import fieldnorm_to_id
    from tantivy_search_spark.index.layout import encode_blocks
    from tantivy_search_spark.udfs import (
        term_doc_tf, term_doc_tf_pos, tokenize_series, tokenize_series_pos)

    out = []
    parts: dict[int, list[dict]] = {}
    for r in rows:
        parts.setdefault(r["doc_id"] // ROWS_PER_PART, []).append(r)
    for part, prs in parts.items():
        prs = sorted(prs, key=lambda r: r["doc_id"])
        doc_ids = np.array([r["doc_id"] for r in prs], dtype=np.int64)
        for col in cfg.columns:
            text = pd.Series([r[col] for r in prs])
            tok_cfg = cfg.tokenizer_config(col)
            if cfg.with_positions:
                toks, poss = tokenize_series_pos(text, tok_cfg)
                terms, t_docs, t_tfs, doclens, pos = term_doc_tf_pos(
                    toks, doc_ids, poss)
            else:
                terms, t_docs, t_tfs, doclens = term_doc_tf(
                    tokenize_series(text, tok_cfg), doc_ids)
                pos = None
            norms = fieldnorm_to_id(doclens)
            cum_tf = np.concatenate(([0], np.cumsum(t_tfs)))
            for term in dict.fromkeys(terms):
                idx = np.flatnonzero(terms == term)
                d = t_docs[idx]
                enc = encode_blocks(d, t_tfs[idx],
                                    norms[np.searchsorted(doc_ids, d)],
                                    cfg.block_size)
                out.append((
                    part, zlib.crc32(term.encode("utf-8")) % cfg.n_buckets,
                    col, term, part // cfg.parts_per_shard, 0, enc["df"],
                    tuple(enc["block_first"].tolist()),
                    tuple(enc["block_last"].tolist()),
                    tuple(enc["block_max_tf"].tolist()),
                    tuple(enc["block_min_norm"].tolist()),
                    enc["deltas"], enc["tfs"], enc["norms"],
                    b"" if pos is None
                    else pos[cum_tf[idx[0]]:cum_tf[idx[-1] + 1]].tobytes(),
                    int(t_tfs[idx].sum())))
    return sorted(out)


def _fragments(chunk_dir: str) -> list[tuple]:
    rows = ds.dataset(chunk_dir).to_table().to_pylist()
    return sorted(tuple(tuple(r[f]) if isinstance(r[f], list) else r[f]
                        for f in FIELDS) for r in rows)


@pytest.mark.parametrize("with_positions", [False, True],
                         ids=["tf", "positions"])
@pytest.mark.parametrize("mode", ["group", "stream"])
def test_build_fragments_equal_per_term_reference(spark, tmp_path, mode,
                                                   with_positions):
    from tantivy_search_spark.index.builder import IndexBuilder

    rows = part0_rows(0) + part1_rows(10)
    cfg = _cfg(with_positions)
    # one ordered input partition: stream mode cuts each part once
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1 if mode == "stream" else 3))
    path = str(tmp_path / "idx")
    IndexBuilder(spark, path, cfg, rows_per_part=ROWS_PER_PART,
                 segment_shuffle=mode).build(df, id_col="doc_id")
    got = _fragments(os.path.join(path, "segments", "chunk=0"))
    assert got == _reference(rows, cfg)
    assert any(r[14] for r in got) == with_positions


def test_append_fragments_equal_per_term_reference(spark, tmp_path):
    from tantivy_search_spark.index.builder import IndexBuilder

    cfg = _cfg(False)
    path = str(tmp_path / "idx")
    b = IndexBuilder(spark, path, cfg, rows_per_part=ROWS_PER_PART)
    b.build(spark.createDataFrame(part0_rows(0)), id_col="doc_id")
    b.append(spark.createDataFrame(part1_rows(0)), id_col="doc_id")
    # append places its ids from the first part boundary past the index
    base = (9 // ROWS_PER_PART + 1) * ROWS_PER_PART
    shifted = [dict(r, doc_id=r["doc_id"] + base) for r in part1_rows(0)]
    got = _fragments(os.path.join(path, "segments", "chunk=a0"))
    assert got == _reference(shifted, cfg)
