"""On-disk index layout + posting-block codec.

Index directory (parquet today; the layout is Iceberg-compatible — every
table is a directory of parquet files with a stable schema and a
partition column usable as an Iceberg identity partition):

    <index_path>/
      _index_meta.json                 # config + global stats + lineage
      docs/                            # doc_id, metadata, content sha256
      segments/part_group=<g>/         # stage-1 per-partition posting fragments
      postings/bucket=<b>/             # merged postings, term-hash bucketed
      stats/                           # (col, term, df) global term dictionary
      tombstones/                      # deleted doc_ids
      _checkpoints/                    # per-stage/per-part-group manifests

Posting rows (both fragment and merged) hold delta-encoded docID blocks
of <= block_size postings with skip pointers (block_first/block_last) and
block-max metadata (block_max_tf, block_min_norm) — the structure the
reference relies on for block-max WAND pruning (SURVEY.md §4), rebuilt
here as numpy-encoded binary columns.

Invariant: a block never spans two build parts, and doc_ids are assigned
contiguously per part, so within-block deltas always fit uint32 even at
10^12-doc scale, and merged per-term lists are concatenations of
non-overlapping sorted runs.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

META_FILE = "_index_meta.json"
DOCS_DIR = "docs"
SEGMENTS_DIR = "segments"
POSTINGS_DIR = "postings"
STATS_DIR = "stats"
TOMBSTONES_DIR = "tombstones"
DOCS_VIEW_FILE = "docs_view.json"  # docs_mode='view': source snapshot spec
BITMAPS_DIR = "bitmaps"
CHECKPOINTS_DIR = "_checkpoints"


def term_bucket(term: str, n_buckets: int) -> int:
    """Stable term -> file bucket (crc32 — identical on driver & executors)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def recover_swaps(index_path: str, drop_stray: bool = False) -> None:
    """Repair a directory swap interrupted mid-rename.

    compact()/append() replace the postings/stats dirs with the
    sequence: write <dir>_new|_compacting -> rename <dir> to <dir>_old
    -> rename new into place -> rmtree old.  A crash between the two
    renames leaves no live dir but an intact <dir>_old; a crash before
    the final rmtree leaves both.  Recovery rules (idempotent):
      * live dir missing + _old present  -> roll back (_old -> live)
      * live dir present + _old present  -> finish (drop _old)
      * stray _new/_compacting dirs      -> drop, only when
        ``drop_stray`` (writers at job start; readers must not delete a
        concurrent writer's in-progress dir)
    """
    import shutil as _shutil
    for d in (POSTINGS_DIR, STATS_DIR, BITMAPS_DIR, DOCS_DIR):
        live = os.path.join(index_path, d)
        old = live + "_old"
        if os.path.exists(old):
            if os.path.exists(live):
                _shutil.rmtree(old)
            else:
                os.rename(old, live)
        if drop_stray:
            for suffix in ("_new", "_compacting", "_optimizing",
                           "_building"):
                stray = live + suffix
                if os.path.exists(stray):
                    _shutil.rmtree(stray)


#: posting fragment/merged schema (`sub` splits oversized shard rows;
#: doc ranges of subs of one (term, shard) are disjoint & ordered)
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("col", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("sub", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),  # postings in this row
        T.StructField("block_first", T.ArrayType(T.LongType()), False),
        T.StructField("block_last", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_tf", T.ArrayType(T.IntegerType()), False),
        T.StructField("block_min_norm", T.ArrayType(T.IntegerType()), False),
        T.StructField("deltas", T.BinaryType(), False),  # uint32, per-block cumsum
        T.StructField("tfs", T.BinaryType(), False),  # uint32
        T.StructField("norms", T.BinaryType(), False),  # uint8 fieldnorm ids
        # uint32 token positions, concatenated per posting in doc order
        # (posting i owns the run [cumsum(tf)[i-1], cumsum(tf)[i]));
        # empty bytes when the index is built without positions —
        # reference WithFreqsAndPositions analog (index_manager.rs:64)
        T.StructField("positions", T.BinaryType(), True),
    ]
)

SEGMENTS_SCHEMA = T.StructType(
    [T.StructField("part_id", T.IntegerType(), False)]
    + POSTINGS_SCHEMA.fields
    + [T.StructField("sum_tf", T.LongType(), False)]  # raw token mass of this row
)

STATS_SCHEMA = T.StructType(
    [
        T.StructField("col", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)


def encode_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, norms: np.ndarray, block_size: int
) -> dict:
    """Sorted doc_ids (+ parallel tfs, fieldnorm ids) -> block-coded row parts.

    deltas[i] = doc_ids[i] - doc_ids[i-1] within a block, first element of
    each block relative to block_first (i.e. 0).
    """
    n = doc_ids.shape[0]
    nb = (n + block_size - 1) // block_size
    starts = np.arange(nb) * block_size
    ends = np.minimum(starts + block_size, n)
    d = np.diff(doc_ids)
    if n > 1 and int(d.max(initial=0)) >= 2**32:
        # the per-part contiguity invariant guarantees this never fires
        raise ValueError("doc_id gap overflows uint32 delta (block spans parts?)")
    deltas = np.empty(n, dtype=np.uint32)
    deltas[1:] = d
    deltas[starts] = 0
    return {
        "df": int(n),
        "block_first": doc_ids[starts].astype(np.int64),
        "block_last": doc_ids[ends - 1].astype(np.int64),
        "block_max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
        "block_min_norm": np.minimum.reduceat(norms, starts).astype(np.int32),
        "deltas": deltas.tobytes(),
        "tfs": tfs.astype(np.uint32).tobytes(),
        "norms": norms.astype(np.uint8).tobytes(),
    }


#: Arrow twin of SEGMENTS_SCHEMA — the segments kernel's output type
SEGMENTS_ARROW_SCHEMA = to_arrow_schema(SEGMENTS_SCHEMA)

#: largest payload one Arrow ``binary`` column may hold (int32 offsets)
MAX_BINARY_BYTES = 2 ** 31 - 1


def _binary(offsets: np.ndarray, data: np.ndarray) -> pa.Array:
    """Arrow binary array over a flat numpy buffer: value i is
    data.bytes[offsets[i]:offsets[i+1]] — zero per-value objects."""
    if int(offsets[-1]) > MAX_BINARY_BYTES:
        raise ValueError(
            f"binary column of {int(offsets[-1])} bytes overflows Arrow "
            "int32 offsets; encode fewer terms per call (term_slices)")
    return pa.Array.from_buffers(
        pa.binary(), offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)),
         pa.py_buffer(np.ascontiguousarray(data))])


def _list(offsets: np.ndarray, values: np.ndarray,
          field: str) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values),
        type=SEGMENTS_ARROW_SCHEMA.field(field).type)


def encode_blocks_arrow(
    t_docs: np.ndarray,
    t_tfs: np.ndarray,
    t_norms: np.ndarray,
    bounds: np.ndarray,
    block_size: int,
    positions: np.ndarray | None = None,
) -> dict[str, pa.Array]:
    """Vectorized :func:`encode_blocks` over MANY terms, straight to Arrow.

    ``bounds`` delimits per-term runs in the (term, doc)-sorted triple
    arrays (term i owns [bounds[i], bounds[i+1])).  All block metadata
    (first/last/max_tf/min_norm) and the delta stream are computed with
    global numpy passes — one ``reduceat`` per metric instead of one
    ``encode_blocks`` call per term — and land in Arrow arrays without a
    per-term Python object: list offsets are the per-term block counts'
    prefix sum, binary offsets are the term bounds (x4 for uint32
    streams).  Every row is byte-identical to per-term encode_blocks
    (property-tested).

    ``positions`` (uint32, aligned with the triples: triple i owns the
    next tfs[i] entries) becomes the per-term ``positions`` buffer; None
    gives empty buffers (a positions-free index).

    Returns {column: pa.Array} for df, block_first, block_last,
    block_max_tf, block_min_norm, deltas, tfs, norms, positions, sum_tf,
    typed as in SEGMENTS_ARROW_SCHEMA.
    """
    bounds = np.asarray(bounds, dtype=np.int64)
    nterms = bounds.size - 1
    lengths = bounds[1:] - bounds[:-1]
    nb = (lengths + block_size - 1) // block_size
    nb_off = np.concatenate(([0], np.cumsum(nb)))
    total_blocks = int(nb_off[-1])
    term_of_block = np.repeat(np.arange(nterms), nb)
    block_k = np.arange(total_blocks, dtype=np.int64) \
        - np.repeat(nb_off[:-1], nb)
    b_start = bounds[:-1][term_of_block] + block_k * block_size
    b_end = np.minimum(b_start + block_size, bounds[1:][term_of_block])

    d64 = np.empty(t_docs.size, dtype=np.int64)
    if t_docs.size:
        d64[0] = 0
        d64[1:] = np.diff(t_docs)
        d64[b_start] = 0  # block starts (incl. every term start) reset
        if int(d64.max(initial=0)) >= 2 ** 32:
            raise ValueError(
                "doc_id gap overflows uint32 delta (block spans parts?)")
        block_max_tf = np.maximum.reduceat(t_tfs, b_start)
        block_min_norm = np.minimum.reduceat(t_norms, b_start)
        sum_tf = np.add.reduceat(t_tfs, bounds[:-1]).astype(np.int64)
    else:
        block_max_tf = block_min_norm = np.empty(0, np.int32)
        sum_tf = np.zeros(nterms, np.int64)
    if positions is None:
        pos_off = np.zeros(nterms + 1, np.int64)
        positions = np.empty(0, np.uint32)
    else:
        cum_tf = np.concatenate(([0], np.cumsum(t_tfs, dtype=np.int64)))
        pos_off = cum_tf[bounds] * 4
    return {
        "df": pa.array(lengths),
        "block_first": _list(nb_off, t_docs[b_start].astype(np.int64),
                             "block_first"),
        "block_last": _list(nb_off, t_docs[b_end - 1].astype(np.int64),
                            "block_last"),
        "block_max_tf": _list(nb_off, block_max_tf.astype(np.int32),
                              "block_max_tf"),
        "block_min_norm": _list(nb_off, block_min_norm.astype(np.int32),
                                "block_min_norm"),
        "deltas": _binary(bounds * 4, d64.astype(np.uint32)),
        "tfs": _binary(bounds * 4, t_tfs.astype(np.uint32)),
        "norms": _binary(bounds, t_norms.astype(np.uint8)),
        "positions": _binary(pos_off, positions.astype(np.uint32)),
        "sum_tf": pa.array(sum_tf),
    }


def term_slices(bounds: np.ndarray, t_tfs: np.ndarray,
                with_positions: bool) -> list[tuple[int, int]]:
    """Cut a part's terms into runs [i0, i1) whose binary columns each
    fit one Arrow array (:data:`MAX_BINARY_BYTES`): the uint32 delta and
    tf streams cost 4 bytes a posting, positions 4 bytes a token.  One
    run in practice; a single term too large for one array raises in
    :func:`encode_blocks_arrow`."""
    bounds = np.asarray(bounds, dtype=np.int64)
    nbytes = bounds * 4
    if with_positions:
        cum_tf = np.concatenate(([0], np.cumsum(t_tfs, dtype=np.int64)))
        nbytes = np.maximum(nbytes, cum_tf[bounds] * 4)
    out, i0, nterms = [], 0, bounds.size - 1
    while i0 < nterms:
        i1 = int(np.searchsorted(nbytes, nbytes[i0] + MAX_BINARY_BYTES,
                                 side="right")) - 1
        i1 = min(max(i1, i0 + 1), nterms)
        out.append((i0, i1))
        i0 = i1
    return out


def decode_doc_ids(block_first, deltas: bytes, block_size: int) -> np.ndarray:
    """doc_ids-only decode (bitmap queries): lets the parquet scan prune
    the tfs/norms columns entirely."""
    dl = np.frombuffer(deltas, dtype=np.uint32)
    n = dl.shape[0]
    first = np.asarray(block_first, dtype=np.int64)
    nb = first.shape[0]
    starts = np.arange(nb, dtype=np.int64) * block_size
    csum = np.cumsum(dl.astype(np.int64))
    lengths = np.diff(np.append(starts, n))
    block_of = np.repeat(np.arange(nb), lengths)
    base = first - csum[starts]
    return csum + base[block_of]


def decode_blocks(
    block_first, deltas: bytes, tfs: bytes, norms: bytes, block_size: int,
    keep_blocks: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_blocks -> (doc_ids int64, tfs int64, norms uint8).

    ``keep_blocks`` (bool per block) decodes a subset — the skip-pointer
    path used by WAND / range pruning.
    """
    dl = np.frombuffer(deltas, dtype=np.uint32)
    tf = np.frombuffer(tfs, dtype=np.uint32)
    nm = np.frombuffer(norms, dtype=np.uint8)
    n = dl.shape[0]
    first = np.asarray(block_first, dtype=np.int64)
    nb = first.shape[0]
    starts = np.arange(nb, dtype=np.int64) * block_size

    if keep_blocks is not None and not keep_blocks.all():
        sel = np.nonzero(keep_blocks)[0]
        if sel.size == 0:
            return (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.uint8),
            )
        parts_doc, parts_tf, parts_nm = [], [], []
        for b in sel:  # few selected blocks; each decode is vectorized
            s, e = starts[b], min(starts[b] + block_size, n)
            parts_doc.append(first[b] + np.cumsum(dl[s:e].astype(np.int64)))
            parts_tf.append(tf[s:e].astype(np.int64))
            parts_nm.append(nm[s:e])
        return (
            np.concatenate(parts_doc),
            np.concatenate(parts_tf),
            np.concatenate(parts_nm),
        )

    # full vectorized decode:
    # doc_id[i] = first[blk] + (csum[i] - csum[start(blk)]); delta at each
    # block start is 0, so csum differences are within-block prefix sums.
    csum = np.cumsum(dl.astype(np.int64))
    lengths = np.diff(np.append(starts, n))
    block_of = np.repeat(np.arange(nb), lengths)
    base = first - csum[starts]
    doc_ids = csum + base[block_of]
    return doc_ids, tf.astype(np.int64), nm


def split_positions(positions: bytes | None, tfs: np.ndarray,
                    s: int, e: int) -> bytes:
    """Slice a row's flat positions buffer to postings [s, e) using the
    per-posting tf counts (posting i owns tf[i] positions)."""
    if not positions:
        return b""
    cum = np.concatenate(([0], np.cumsum(tfs, dtype=np.int64)))
    return positions[int(cum[s]) * 4: int(cum[e]) * 4]


def decode_positions(positions: bytes | None,
                     tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """-> (flat uint32 positions, int64 offsets) with posting i's
    positions at flat[offsets[i]:offsets[i+1]]."""
    flat = np.frombuffer(positions or b"", dtype=np.uint32)
    offsets = np.concatenate(([0], np.cumsum(tfs, dtype=np.int64)))
    return flat, offsets


@dataclass
class IndexMeta:
    config_json: str
    num_parts: int = 0
    total_docs: int = 0
    total_tokens: dict | None = None  # col -> raw token count
    part_ranges: list | None = None  # [(part_id, first_doc, last_doc, rows)]
    build_metrics: dict | None = None
    #: max data-file mtime observed at commit (meta save) time, on the
    #: storage system's own clock — repair() treats files with mtime
    #: strictly below it as committed without reading footers.  Unlike a
    #: wall-clock margin against the meta file's mtime, this cannot
    #: misclassify a crashed append's artifacts under writer/storage
    #: clock skew: any post-commit write lands at or after the fence.
    committed_fence: float | None = None
    #: doc-id high-water mark — survives compact(purge_deletes=True)
    #: removing the max-id docs, so append() never reissues a purged id
    #: (None on pre-purge metas: part_ranges max is then exact)
    max_doc_id: int | None = None
    #: 'view' when the docs table is a lazy reconstruction over the
    #: pinned source-parquet snapshot (docs_view.json holds the file
    #: list + offsets) instead of a build-time corpus copy; None/absent
    #: means the classic copied docs table
    docs_mode: str | None = None
    #: [total_docs, rows_per_part] when doc ids are dense 0..N-1
    #: (position-id builds): part ranges are pure arithmetic, so meta
    #: stays O(1) bytes instead of one part_ranges entry per part —
    #: at 10^12 docs an explicit list would make meta.json gigabytes.
    #: When set, part_ranges may be None; use part_bounds(meta).
    dense_ranges: list | None = None

    def save(self, index_path: str) -> None:
        with open(os.path.join(index_path, META_FILE), "w") as f:
            json.dump(self.__dict__, f, indent=1)

    @classmethod
    def load(cls, index_path: str) -> "IndexMeta":
        with open(os.path.join(index_path, META_FILE)) as f:
            return cls(**json.load(f))


def part_bounds(meta: "IndexMeta") -> list | None:
    """[(part_id, first_doc, last_doc, rows)] for every part — the
    explicit ``part_ranges`` list, or the arithmetic expansion of a
    ``dense_ranges`` descriptor (ids dense 0..N-1).  None only on
    legacy metas that recorded neither.  Callers that merely need a
    doc→part mapping on a dense index should use the arithmetic
    directly (``doc_id // rows_per_part``) instead of expanding."""
    if meta.part_ranges:
        return meta.part_ranges
    dense = getattr(meta, "dense_ranges", None)
    if dense:
        n, rpp = int(dense[0]), int(dense[1])
        return [[k, k * rpp, min((k + 1) * rpp, n) - 1,
                 min(rpp, n - k * rpp)]
                for k in range((n + rpp - 1) // rpp)]
    return meta.part_ranges


def max_doc_bound(meta: "IndexMeta") -> int:
    """Largest committed doc id, or -1 on an empty index — O(1) even on
    a dense descriptor (ADVICE r4: repair()/append()/purge only ever
    needed this max, but reached it by expanding part_bounds() into a
    per-part list, ~10^7+ elements at the 10^12-doc scale dense_ranges
    exists for)."""
    dense = getattr(meta, "dense_ranges", None)
    if not meta.part_ranges and dense:
        return int(dense[0]) - 1
    return max((r[2] for r in meta.part_ranges or []), default=-1)


def max_part_bound(meta: "IndexMeta") -> int:
    """Largest committed part id, or -1 on an empty index — O(1) on a
    dense descriptor (companion of :func:`max_doc_bound`)."""
    dense = getattr(meta, "dense_ranges", None)
    if not meta.part_ranges and dense:
        n, rpp = int(dense[0]), int(dense[1])
        return (n - 1) // rpp if n > 0 else -1
    return max((r[0] for r in meta.part_ranges or []), default=-1)
