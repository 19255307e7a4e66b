"""Index build pipeline (reference operators B1-B9, SURVEY.md §2.1).

Spark-first design — one tokenize pass, two shuffles total:

  stage docs     docs table: doc_id + metadata + sha256(content) — pure
                 JVM expressions (F.sha2), no Python.
  stage segments ``groupBy(part_id).applyInArrow`` (or, on ordered input,
                 a shuffle-free ``mapInArrow``): per doc-range part,
                 tokenize the Arrow column, count tf, build sorted
                 delta-encoded posting blocks with skip pointers and
                 block-max metadata straight into Arrow arrays.  The
                 reference's in-RAM segment build (2 threads x 64 MB
                 heap) becomes one grouped-map task per part.
                 part_id = doc_id // rows_per_part, so the mapping is
                 deterministic and resumable.
  stage stats    global term dictionary (col, term, df) — a map-side
                 combinable sum over the fragments (merging never
                 changes a term's summed df).
  stage merge    ``groupBy(col, term, shard).applyInPandas`` over the hot
                 terms the stats table names: concatenate part-local
                 runs (disjoint sorted doc ranges) into merged posting
                 rows; shard = part_id // parts_per_shard bounds group
                 memory and doubles as the skew salt for hot terms
                 ("if"/"return"); rows are further split into ``sub``
                 rows at max_postings_per_sub.  Output partitioned by
                 bucket = crc32(term) % n_buckets for file pruning.

Every stage writes a manifest under _checkpoints/ with per-part lineage
(doc range, rows, tokens, wall secs, docs/sec); a restarted build skips
chunks whose manifests exist (fault-injection test in
tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from tantivy_search_spark.config import IndexConfig
from tantivy_search_spark.fieldnorm import fieldnorm_to_id
from tantivy_search_spark.index import layout
from tantivy_search_spark.index.layout import (
    BITMAPS_DIR,
    CHECKPOINTS_DIR,
    DOCS_DIR,
    DOCS_VIEW_FILE,
    POSTINGS_DIR,
    SEGMENTS_DIR,
    STATS_DIR,
    TOMBSTONES_DIR,
    IndexMeta,
    encode_blocks,
)
from tantivy_search_spark.udfs import (
    arrow_fast_eligible,
    term_doc_tf,
    term_doc_tf_arrow,
    tokenize_series,
)

_CRC_EXPR = "crc32(encode({col}, 'utf-8')) % {n}"


def bucket_col(term_col: str, n_buckets: int):
    """JVM-side crc32 bucket — must agree with layout.term_bucket (zlib.crc32)."""
    return (F.crc32(F.encode(F.col(term_col), "utf-8")) % n_buckets).cast("int")


def _sort_key_expr(order_cols: list[str]):
    """One sortable string key per row: columns joined on NUL.

    For string columns without embedded NUL bytes, lexicographic order
    of the key equals lexicographic tuple order of the columns (NUL is
    the minimal code point, so a shorter first column always sorts
    before any extension of it).
    """
    return F.concat_ws(
        "\x00", *[F.coalesce(F.col(c), F.lit("")) for c in order_cols])


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str],
    num_parts: int | None = None,
    base_id: int = 0,
    strategy: str = "auto",
) -> DataFrame:
    """Deterministic, scalable global doc_id assignment.

    Equivalent semantics to ``row_number() over (order by <order_cols>)``
    but without a single-partition window.  Two implementations:

    ``deterministic`` (all-string sort keys — the index-build case:
    repo/path/commit): sample the concatenated sort key once on the
    driver, derive range boundaries, and compute each row's partition
    id as a PURE FUNCTION of the row (a JVM codegen fold over the
    literal boundary array).  Because the id is row-determined —
    unlike Spark's RangePartitioner, which re-samples boundaries per
    job — the per-partition count job and the assignment job agree
    without materializing anything: no localCheckpoint, and executor
    retries recompute byte-identical output.  Costs two extra
    column-pruned scans of the sort-key columns.

    ``checkpoint``: range shuffle pinned by an eager localCheckpoint.
    Fewer passes, but it materializes the whole input to executor
    storage — memory-blocks that die with an executor, and a full
    extra copy of the corpus: not the shape you want at 100 TB.

    ``auto`` picks ``checkpoint`` under a ``local[*]`` master (the
    driver IS the only executor, so executor-loss durability buys
    nothing and the in-memory checkpoint is effectively free) and
    ``deterministic`` on a real cluster.  Non-string sort keys always
    use ``checkpoint``.
    """
    spark = df.sparkSession
    p = num_parts or max(spark.sparkContext.defaultParallelism, 8)
    if strategy not in ("auto", "deterministic", "checkpoint"):
        raise ValueError(f"strategy: {strategy!r}")
    if strategy == "auto":
        # single-JVM masters only: 'local[N]' / 'local[*]' / 'local'.
        # 'local-cluster[...]' runs real separate executor JVMs whose
        # checkpoint blocks die with an executor — deterministic there.
        m = spark.sparkContext.master
        local = m == "local" or m.startswith("local[")
        strategy = "checkpoint" if local else "deterministic"
    if strategy == "checkpoint" or not all(
            df.schema[c].dataType.simpleString() == "string"
            for c in order_cols):
        return _assign_doc_ids_checkpoint(df, order_cols, p, base_id)
    for c in ("_k", "_pid", "_off"):
        if c in df.columns:
            raise ValueError(
                f"assign_doc_ids reserves column name {c!r}; rename it "
                "in the input DataFrame")

    dbg = os.environ.get("TSS_ASSIGN_DEBUG")
    t_dbg = time.time()

    def _tick(label: str) -> None:
        nonlocal t_dbg
        if dbg:
            print(f"[assign] {label}: {time.time() - t_dbg:.2f}s",
                  file=sys.stderr)
            t_dbg = time.time()

    key = _sort_key_expr(order_cols)
    n = df.count()  # column-pruned (metadata-only on parquet sources)
    _tick("count")
    if n == 0:
        out_schema = "doc_id long, " + ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
        return spark.createDataFrame([], out_schema)
    # boundaries: one seeded sample over the pruned key column, sorted,
    # thinned to p-1 cut points.  Collected once on the driver before
    # any downstream job, so every task sees the same literals.
    want = min(n, p * 32)
    frac = min(1.0, 1.2 * want / n)
    sampled = sorted(
        r["_k"] for r in
        df.select(key.alias("_k")).sample(fraction=frac, seed=42).collect())
    _tick("sample")
    if p <= 1:
        bounds = []
    elif len(sampled) > p - 1:
        step = len(sampled) / p
        bounds = sorted({sampled[int(step * i)] for i in range(1, p)})
    else:
        bounds = sorted(set(sampled[1:-1]))
    # materialize the key once per row: inside the fold below the
    # column reference must not re-evaluate the concat per compare
    keyed = df.withColumn("_k", key)
    if not bounds:
        pid_expr = F.lit(0)
    elif len(bounds) <= 4096:
        # JVM-side fold over a literal boundary array: ~|bounds| string
        # compares per row inside whole-stage codegen — no Python
        # worker roundtrip on either pass that computes _pid
        barr = F.array(*[F.lit(b) for b in bounds])
        pid_expr = F.aggregate(
            barr, F.lit(0),
            lambda acc, b: acc + F.when(F.col("_k") >= b, 1).otherwise(0))
    else:
        b_bounds = spark.sparkContext.broadcast(
            np.array(bounds, dtype=object))

        @F.pandas_udf("int")
        def _pid_of(k: pd.Series) -> pd.Series:
            idx = np.searchsorted(
                b_bounds.value, k.to_numpy(dtype=object), side="right")
            return pd.Series(idx.astype(np.int32))

        pid_expr = _pid_of(F.col("_k"))
    with_pid = keyed.withColumn("_pid", pid_expr.cast("int"))
    counts = {r["_pid"]: r["cnt"] for r in
              with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    _tick("pid_counts")
    offsets = []
    acc = base_id
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    # id = pid offset + rank within pid: one hash shuffle (the window
    # exchange) and a JVM-side sort/rank — the full-row pass never
    # crosses into Python, so no Arrow roundtrip of the corpus.  The
    # window orders by the SAME key the pid was derived from, so ids
    # are globally ordered by the key (NULL columns sort as empty
    # string via the key's coalesce, a documented divergence from
    # Spark's NULLS-FIRST tuple order; ties never straddle a pid
    # because equal keys always fold to the same pid).
    from pyspark.sql import Window

    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("_k")
    return (with_pid.join(F.broadcast(off_df), "_pid")
            .withColumn("doc_id",
                        F.col("_off") + F.row_number().over(w) - F.lit(1))
            .select("doc_id", *df.columns))


def _assign_doc_ids_checkpoint(
    df: DataFrame,
    order_cols: list[str],
    p: int,
    base_id: int,
) -> DataFrame:
    """RangePartitioner path for non-string sort keys (see assign_doc_ids)."""
    spark = df.sparkSession
    parted = df.repartitionByRange(p, *order_cols).sortWithinPartitions(*order_cols)
    parted = parted.withColumn("_pid", F.spark_partition_id())
    # Pin the range partitioning: RangePartitioner re-samples boundaries
    # per job (seeded by rdd.id), so without materialization the count
    # job below and the assignment job can see DIFFERENT partitions —
    # overlapping offsets, duplicate ids (observed: 13k dups at 480k
    # rows).  An eager local checkpoint makes every downstream job read
    # the same blocks; and since the sort keys are unique, the final
    # ids are then independent of whatever boundaries were sampled.
    parted = parted.localCheckpoint(eager=True)
    counts = {r["_pid"]: r["cnt"] for r in
              parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = base_id
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)
    out_schema = "doc_id long, " + ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def add_ids(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        base = b_offsets.value.get(pid, 0)
        seen = 0
        for pdf in it:
            n = len(pdf)
            pdf = pdf.drop(columns=["_pid"])
            pdf.insert(0, "doc_id", np.arange(base + seen, base + seen + n,
                                              dtype=np.int64))
            seen += n
            yield pdf

    return parted.mapInPandas(add_ids, out_schema)


def assign_doc_ids_staged(
    df: DataFrame,
    order_cols: list[str],
    stage_dir: str,
    num_parts: int | None = None,
    base_id: int = 0,
) -> DataFrame:
    """Cluster-durable variant of :func:`assign_doc_ids`.

    ``assign_doc_ids`` pins the sampled range partitioning with an
    eager localCheckpoint — executor-storage blocks that die with an
    executor on a real cluster.  Here the range-partitioned data (with
    its ``_pid`` recorded as a normal column) is staged to parquet
    once; every downstream job then reads the same files, so the
    partition ids are durable facts, not resampled lineage.  Final ids
    = exclusive-prefix-sum offset of ``_pid`` + rank within ``_pid``
    (one hash shuffle on _pid, ~num_parts groups of ~|df|/num_parts
    rows — no single-partition window anywhere).

    Same semantics as assign_doc_ids for unique sort keys; regression-
    tested equal in tests/test_delete_resume.py.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    p = num_parts or max(spark.sparkContext.defaultParallelism, 8)
    (df.repartitionByRange(p, *order_cols)
       .sortWithinPartitions(*order_cols)
       .withColumn("_pid", F.spark_partition_id())
       .write.mode("overwrite").parquet(stage_dir))
    staged = spark.read.parquet(stage_dir)
    counts = {r["_pid"]: r["cnt"] for r in
              staged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = []
    acc = base_id
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out_cols = [c for c in df.columns]
    return (
        staged.join(F.broadcast(off_df), "_pid")
        .withColumn("doc_id",
                    F.col("_off") + F.row_number().over(w) - F.lit(1))
        .select("doc_id", *out_cols)
    )


def _segment_builder(cfg_json: str):
    """Grouped-map fn: one doc-range part (``pa.Table``) -> posting
    fragment rows (``pa.Table`` in SEGMENTS_ARROW_SCHEMA).

    Arrow in, Arrow out: the Arrow tokenizer chain reads the text column
    as is, the Python chains convert only the column they tokenize, and
    :func:`layout.encode_blocks_arrow` writes every term's blocks into
    Arrow arrays in one vectorized pass — no per-term Python object and
    no pandas round trip on either side of the kernel."""
    cfg = IndexConfig.from_meta_json(cfg_json)
    bs = cfg.block_size
    pps = cfg.parts_per_shard
    nb = cfg.n_buckets
    schema = layout.SEGMENTS_ARROW_SCHEMA

    def build_part(tbl: pa.Table) -> pa.Table:
        part_id = int(tbl.column("part_id")[0].as_py())
        doc_ids = tbl.column("doc_id").to_numpy().astype(np.int64)
        if (np.diff(doc_ids) < 0).any():
            order = np.argsort(doc_ids, kind="stable")
            tbl, doc_ids = tbl.take(order), doc_ids[order]
        batches = []
        for col in cfg.columns:
            col_cfg = cfg.tokenizer_config(col)
            pos_flat = None
            if cfg.with_positions:
                # positions need the token stream, not just tf counts —
                # one lexsort pass in term_doc_tf_pos.  The pos-aware
                # chain numbers tokens like tantivy: removing filters
                # (stop words, RemoveLong) leave gaps.
                from tantivy_search_spark.udfs import (
                    term_doc_tf_pos, tokenize_series_pos)
                toks, poss = tokenize_series_pos(
                    tbl.column(col).to_pandas(), col_cfg)
                terms, t_docs, t_tfs, doclens, pos_flat = term_doc_tf_pos(
                    toks, doc_ids, poss)
            elif arrow_fast_eligible(col_cfg):
                # Arrow C++ chain: no per-token PyObjects (hot path)
                terms, t_docs, t_tfs, doclens = term_doc_tf_arrow(
                    tbl.column(col), doc_ids, col_cfg)
            else:
                toks = tokenize_series(tbl.column(col).to_pandas(), col_cfg)
                terms, t_docs, t_tfs, doclens = term_doc_tf(toks, doc_ids)
            if terms.size == 0:
                continue
            norm_ids = fieldnorm_to_id(doclens)  # u8 per doc, aligned w/ doc_ids
            t_norms = norm_ids[np.searchsorted(doc_ids, t_docs)]
            # term boundaries in the (term, doc)-sorted triples
            change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            bounds = np.concatenate(([0], change, [terms.size]))
            term_list = terms[bounds[:-1]]
            buckets = np.fromiter(
                (zlib.crc32(t.encode("utf-8")) % nb for t in term_list),
                dtype=np.int32, count=term_list.size)
            cum_tf = np.concatenate(([0], np.cumsum(t_tfs, dtype=np.int64)))
            for i0, i1 in layout.term_slices(bounds, t_tfs,
                                             pos_flat is not None):
                b0, b1 = bounds[i0], bounds[i1]
                enc = layout.encode_blocks_arrow(
                    t_docs[b0:b1], t_tfs[b0:b1], t_norms[b0:b1],
                    bounds[i0:i1 + 1] - b0, bs,
                    None if pos_flat is None
                    else pos_flat[cum_tf[b0]:cum_tf[b1]])
                n = i1 - i0
                enc.update({
                    "part_id": pa.array(np.full(n, part_id, np.int32)),
                    "bucket": pa.array(buckets[i0:i1]),
                    "col": pa.array([col] * n, pa.string()),
                    "term": pa.array(term_list[i0:i1], pa.string()),
                    "shard": pa.array(np.full(n, part_id // pps, np.int32)),
                    "sub": pa.array(np.zeros(n, np.int32)),
                })
                batches.append(pa.RecordBatch.from_arrays(
                    [enc[f.name] for f in schema], schema=schema))
        return pa.Table.from_batches(batches, schema=schema)

    return build_part


def _segment_builder_stream(cfg_json: str):
    """mapInArrow fn: the shuffle-FREE segments stage.

    ``groupBy(part_id).applyInArrow`` moves the whole corpus text
    through an Exchange — at 100 TB that shuffle is the build's
    dominant byte-mover, and on bandwidth-capped hosts it is what
    breaks N->4N scaling.  When every input partition holds doc_ids in
    non-decreasing order over non-overlapping ranges (true for the
    builder's own staged-id table, for range-partitioned/ordered
    parquet, and for generated corpora), the grouping can happen
    inside each partition instead: stream the Arrow batches, cut at
    part_id boundaries, and emit fragments with zero shuffle.

    A part that straddles two input partitions simply yields two
    fragment rows with the same part_id over consecutive disjoint doc
    ranges — every reader treats posting rows independently, merge
    (_merger) and compact (_compactor) order rows by first doc id, and
    lineage aggregates by part_id, so split parts are indistinguishable
    from append parts.

    Ordering handling: Spark packs multiple files into one read
    partition (ordered by size, not range) and the Arrow runner
    REBATCHES rows across file boundaries, so a task's stream is a
    sequence of monotonic runs, not one sorted sequence.  The stage
    splits every batch at doc_id decreases and treats each decrease as
    a run boundary (flush + restart) — correct whenever runs cover
    disjoint doc ranges, which an ordered parquet write guarantees
    (distinct files never overlap).  Genuinely unordered input is
    caught by the per-task overlap guard: a part re-appearing with a
    doc id not above what was already flushed for it raises instead of
    emitting overlapping fragment ranges.
    """
    build_part = _segment_builder(cfg_json)

    def stream(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        buf: list[pa.RecordBatch] = []
        cur_part = None
        last_doc = None
        flushed_max: dict[int, list[tuple[int, int]]] = {}

        def flush() -> list[pa.RecordBatch]:
            tbl = pa.Table.from_batches(buf)
            part = int(cur_part)
            ids = tbl.column("doc_id").to_numpy()
            lo, hi = int(ids.min()), int(ids.max())
            # Disjointness, not order, is the requirement: a part split
            # across input files can arrive high-half first (Spark
            # packs files into tasks by size, not range).  Raise only
            # when ranges truly OVERLAP — overlapping fragments would
            # merge into duplicate postings.
            for plo, phi in flushed_max.get(part, ()):
                if lo <= phi and hi >= plo:
                    raise ValueError(
                        "shuffle-free segments stage saw overlapping doc "
                        f"ranges for part {part} ([{lo}, {hi}] vs flushed "
                        f"[{plo}, {phi}]) — the input is not ordered; "
                        "build with segment_shuffle='group' for "
                        "arbitrary layouts")
            flushed_max.setdefault(part, []).append((lo, hi))
            return build_part(tbl).to_batches()

        for batch in it:
            if not batch.num_rows:
                continue
            ids = batch.column("doc_id").to_numpy()
            parts = batch.column("part_id").to_numpy()
            # split the (possibly rebatched-across-files) batch into
            # monotonic runs; part_id = doc_id // rows_per_part is then
            # non-decreasing inside each run, so parts are contiguous
            breaks = (np.flatnonzero(np.diff(ids) < 0) + 1).tolist()
            for s, e in zip([0] + breaks, breaks + [len(ids)]):
                if last_doc is not None and int(ids[s]) < last_doc:
                    if buf:
                        yield from flush()
                        buf = []
                    cur_part = None
                last_doc = int(ids[e - 1])
                cuts = (np.flatnonzero(np.diff(parts[s:e]) != 0)
                        + 1 + s).tolist()
                for ps, pe in zip([s] + cuts, cuts + [e]):
                    part = int(parts[ps])
                    if cur_part is None:
                        cur_part = part
                    if part != cur_part:
                        yield from flush()
                        buf = []
                        cur_part = part
                    buf.append(batch.slice(ps, pe - ps))
        if buf:
            yield from flush()

    return stream


def _merger(cfg_json: str, max_postings_per_sub: int = 262_144):
    """Grouped-map fn: all fragments of (col, term, shard) -> merged rows.

    Parts inside a shard cover consecutive doc ranges, so decoded runs
    concatenate into one sorted list; re-encoded with uniform blocks and
    split into ``sub`` rows so no single parquet cell grows unbounded.
    """
    cfg = IndexConfig.from_meta_json(cfg_json)
    bs = cfg.block_size

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # order fragments by their actual first doc id, not part_id:
        # the shuffle-free segments stage may emit two fragments for a
        # part split across input partitions (same part_id, disjoint
        # consecutive doc ranges), and ties under a part_id sort would
        # interleave the runs
        pdf = pdf.assign(
            _first=pdf["block_first"].map(lambda a: int(a[0]) if len(a) else -1)
        ).sort_values("_first")
        return _concat_rows_to_subs(pdf, bs, max_postings_per_sub)

    return merge_group


def _concat_rows_to_subs(pdf: pd.DataFrame, bs: int,
                         max_postings_per_sub: int,
                         purge_ids: np.ndarray | None = None) -> pd.DataFrame:
    """Shared merge/compact kernel: rows of ONE (col, term, shard) group,
    already ordered by ascending doc range, -> minimal ``sub`` rows.
    Positions buffers concatenate in the same posting order, so the flat
    layout survives merge and is re-split at sub boundaries by tf.

    ``purge_ids`` (sorted int64): postings for these doc ids are dropped
    from the re-encoded rows — the physical-delete half of
    ``IndexBuilder.compact(purge_deletes=True)``."""
    col = pdf["col"].iloc[0]
    term = pdf["term"].iloc[0]
    shard = int(pdf["shard"].iloc[0])
    bucket = int(pdf["bucket"].iloc[0])
    docs, tfs, norms, poss = [], [], [], []
    has_positions = "positions" in pdf.columns
    for r in pdf.itertuples(index=False):
        d, t, m = layout.decode_blocks(
            r.block_first, r.deltas, r.tfs, r.norms, bs
        )
        docs.append(d)
        tfs.append(t)
        norms.append(m)
        if has_positions:
            poss.append(getattr(r, "positions", None) or b"")
    doc_ids = np.concatenate(docs)
    tf = np.concatenate(tfs)
    nm = np.concatenate(norms)
    pos_flat = b"".join(poss)
    cum_tf = np.concatenate(([0], np.cumsum(tf, dtype=np.int64)))
    if pos_flat and len(pos_flat) != int(cum_tf[-1]) * 4:
        # e.g. a with_positions=True append landed on a positions-free
        # index: slicing by the tf cumsum would silently corrupt every
        # phrase result downstream — fail the merge loudly instead
        raise ValueError(
            f"positions buffer misaligned for (col={col!r}, "
            f"term={term!r}, shard={shard}): {len(pos_flat)} bytes != "
            f"4 * total tf {int(cum_tf[-1])}; mixed positions/"
            "positions-free fragments cannot merge")
    if purge_ids is not None and purge_ids.size and doc_ids.size:
        hit = np.searchsorted(purge_ids, doc_ids)
        drop = purge_ids[np.minimum(hit, purge_ids.size - 1)] == doc_ids
        if drop.any():
            keep = ~drop
            if pos_flat:
                pos = np.frombuffer(pos_flat, dtype="<u4")
                pos_flat = pos[np.repeat(keep, tf)].tobytes()
            doc_ids, tf, nm = doc_ids[keep], tf[keep], nm[keep]
            cum_tf = np.concatenate(([0], np.cumsum(tf, dtype=np.int64)))
    out: dict[str, list] = {k: [] for k in (
        "bucket", "col", "term", "shard", "sub", "df", "block_first",
        "block_last", "block_max_tf", "block_min_norm", "deltas", "tfs",
        "norms", "positions")}
    nsubs = (doc_ids.size + max_postings_per_sub - 1) // max_postings_per_sub
    for sub in range(nsubs):
        s = sub * max_postings_per_sub
        e = min(s + max_postings_per_sub, doc_ids.size)
        enc = encode_blocks(doc_ids[s:e], tf[s:e], nm[s:e], bs)
        out["bucket"].append(bucket)
        out["col"].append(col)
        out["term"].append(term)
        out["shard"].append(shard)
        out["sub"].append(sub)
        out["df"].append(enc["df"])
        out["block_first"].append(enc["block_first"])
        out["block_last"].append(enc["block_last"])
        out["block_max_tf"].append(enc["block_max_tf"])
        out["block_min_norm"].append(enc["block_min_norm"])
        out["deltas"].append(enc["deltas"])
        out["tfs"].append(enc["tfs"])
        out["norms"].append(enc["norms"])
        out["positions"].append(
            pos_flat[int(cum_tf[s]) * 4: int(cum_tf[e]) * 4]
            if pos_flat else b"")
    if not out["col"]:
        # a purge can drop every posting of a group (a term whose only
        # docs in this shard are all tombstoned).  pd.DataFrame of empty
        # lists defaults every column to float64, which Arrow refuses to
        # convert to the schema's list<int64>/binary columns — give the
        # zero-row frame explicit object/int dtypes instead
        return pd.DataFrame({
            k: pd.Series([], dtype=(
                "int64" if k in ("bucket", "shard", "sub", "df")
                else "object"))
            for k in out})
    return pd.DataFrame(out)


def _term_stats(postings: DataFrame) -> DataFrame:
    """Posting rows (fragments or merged — merging keeps every term's
    summed df) -> the STATS_SCHEMA term dictionary (col, term, df,
    bucket)."""
    return postings.groupBy("col", "term").agg(
        F.sum("df").alias("df"), F.first("bucket").alias("bucket"))


#: one sidecar row per (col, term, chunk); `total` repeats the full
#: bitmap byte length so the driver-side assembler knows when a term's
#: chunks are complete without a second pass
BITMAP_SIDECAR_SCHEMA = T.StructType([
    T.StructField("col", T.StringType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("chunk", T.IntegerType(), False),
    T.StructField("total", T.LongType(), False),
    T.StructField("data", T.BinaryType(), False),
])


def _bitmap_packer(block_size: int, chunk_bytes: int):
    """Grouped-map fn: all posting rows of one hot (col, term) -> its
    packed little-endian u8 bitmap, split into arrow-safe chunks.  Hot
    terms are dense by construction (df >= min_df), so the bits-array +
    packbits route beats a scattered ``bitwise_or.at``."""

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        runs = [layout.decode_doc_ids(r.block_first, r.deltas, block_size)
                for r in pdf.itertuples(index=False)]
        ids = np.concatenate(runs) if runs else np.empty(0, np.int64)
        if not ids.size:
            return pd.DataFrame(
                {"col": [], "term": [], "chunk": [], "total": [],
                 "data": []})
        bits = np.zeros(int(ids.max()) + 1, dtype=np.uint8)
        bits[ids] = 1
        packed = np.packbits(bits, bitorder="little").tobytes()
        chunks = [packed[o:o + chunk_bytes]
                  for o in range(0, len(packed), chunk_bytes)]
        return pd.DataFrame({
            "col": [key[0]] * len(chunks),
            "term": [key[1]] * len(chunks),
            "chunk": np.arange(len(chunks), dtype=np.int32),
            "total": np.full(len(chunks), len(packed), dtype=np.int64),
            "data": chunks,
        })

    return pack


def _compactor(cfg_json: str, max_postings_per_sub: int = 262_144,
               purge_bc=None):
    """Grouped-map fn: multi-row (col, term, shard) posting group ->
    minimal merged rows.  Rows cover disjoint doc ranges (append parts
    are strictly increasing), so sorting rows by their first doc id and
    concatenating yields one globally sorted run.

    ``purge_bc``: optional Spark broadcast of a sorted int64 doc-id
    array whose postings are physically dropped during the rewrite."""
    cfg = IndexConfig.from_meta_json(cfg_json)
    bs = cfg.block_size

    def compact_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.assign(
            _first=pdf["block_first"].map(lambda a: int(a[0]) if len(a) else -1)
        ).sort_values("_first")
        return _concat_rows_to_subs(
            pdf, bs, max_postings_per_sub,
            purge_ids=None if purge_bc is None else purge_bc.value)

    return compact_group


class IndexBuilder:
    """Reference B1/B2 ``create_index*`` + B4/B5 build/commit + B8 merge."""

    def __init__(self, spark: SparkSession, index_path: str, config: IndexConfig,
                 rows_per_part: int = 250_000, durable_ids: bool = False,
                 segment_shuffle: str = "auto"):
        self.spark = spark
        self.index_path = index_path
        self.config = config
        self.rows_per_part = rows_per_part
        #: doc-id assignment strategy: False = eager localCheckpoint
        #: (fast, fine on local[k] / short-lived jobs), True = parquet-
        #: staged (assign_doc_ids_staged) — survives executor loss on a
        #: real cluster; pick True for long multi-executor builds
        self.durable_ids = durable_ids
        #: segments-stage execution: "group" shuffles the corpus text by
        #: part_id (works for any input layout); "stream" cuts parts
        #: inside each input partition with ZERO shuffle (requires
        #: doc_id non-decreasing per partition over non-overlapping
        #: ranges — enforced at runtime); "auto" picks "stream" exactly
        #: when the builder staged the ids itself (id_col=None), whose
        #: ordered parquet guarantees the contract
        if segment_shuffle not in ("auto", "group", "stream"):
            raise ValueError(f"segment_shuffle: {segment_shuffle!r}")
        self.segment_shuffle = segment_shuffle

    # -- checkpoint helpers -------------------------------------------------
    def _ckpt_path(self, name: str) -> str:
        return os.path.join(self.index_path, CHECKPOINTS_DIR, f"{name}.json")

    def _ckpt_done(self, name: str) -> dict | None:
        p = self._ckpt_path(name)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def _ckpt_write(self, name: str, payload: dict) -> None:
        os.makedirs(os.path.dirname(self._ckpt_path(name)), exist_ok=True)
        tmp = self._ckpt_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1)
        os.replace(tmp, self._ckpt_path(name))

    def _position_ids(self, df: DataFrame) -> tuple[DataFrame, dict]:
        """doc_id = file offset + ``_metadata.row_index`` — a pure
        function of the source snapshot, so there is nothing to stage:
        no sort, no shuffle, no staged parquet.  The zero-overhead id
        mode for ingest-shaped builds where id order need not follow a
        semantic sort key (ids are dense, unique, and ascending within
        each source file, which keeps the stream segments stage
        shuffle-free).  Requires ``df`` to be a direct parquet scan
        (Spark's ``_metadata`` hidden column must resolve).  The file
        list + per-file row counts are checkpointed; a resumed build
        verifies the snapshot is unchanged before reusing ids.
        """
        for c in ("_fp", "_ri", "_off"):
            if c in df.columns:
                raise ValueError(
                    f"position_ids reserves column name {c!r}; rename it "
                    "in the input DataFrame")
        ck = self._ckpt_done("position_ids")
        if ck is None:
            t0 = time.time()
            counts = (df.select(F.col("_metadata.file_path").alias("_fp"))
                      .groupBy("_fp").agg(F.count("*").alias("cnt"))
                      .collect())
            files = sorted((r["_fp"], int(r["cnt"])) for r in counts)
            ck = {"files": [[fp, n] for fp, n in files],
                  "secs": time.time() - t0}
            self._ckpt_write("position_ids", ck)
        else:
            cur = (df.select(F.col("_metadata.file_path").alias("_fp"))
                   .groupBy("_fp").agg(F.count("*").alias("cnt")).collect())
            if sorted([r["_fp"], int(r["cnt"])] for r in cur) != ck["files"]:
                raise ValueError(
                    "position-id resume: source parquet snapshot changed "
                    "since the checkpoint (file list or row counts differ) "
                    "— ids would not be stable; rebuild with overwrite=True")
        offs, acc = [], 0
        for fp, n in ck["files"]:
            offs.append((fp, acc))
            acc += n
        offs_df = self.spark.createDataFrame(offs, "_fp string, _off long")
        out = (df.withColumn("_fp", F.col("_metadata.file_path"))
               .withColumn("_ri", F.col("_metadata.row_index"))
               .join(F.broadcast(offs_df), "_fp")
               .withColumn("doc_id", F.col("_off") + F.col("_ri"))
               .drop("_fp", "_ri", "_off"))
        # metrics get a summary only — the full file list (potentially
        # 10^5+ paths) stays in the checkpoint file, not in meta.json
        return out, {"done": True, "secs": ck.get("secs", 0.0),
                     "n_files": len(ck["files"]),
                     "n_rows": sum(n for _, n in ck["files"])}

    def _write_docs_view(self, source_cols: list[str],
                         source_schema: dict | None = None) -> None:
        """docs_mode='view': persist the pinned source snapshot spec
        (file list + per-file doc-id offsets + column layout) that
        ``SearchIndex.docs`` reconstructs rows from.  The file list
        comes from the position_ids checkpoint, which the build already
        verified against the live snapshot.  ``source_schema`` (col →
        Spark simpleString type) lets a zero-doc view index serve a
        typed empty docs table (ADVICE r4: spark.read.parquet of an
        empty file list cannot infer a schema)."""
        ck = self._ckpt_done("position_ids")
        if ck is None:  # unreachable from build(); defensive
            raise RuntimeError("docs view requires a position_ids checkpoint")
        files, acc = [], 0
        for fp, n in ck["files"]:
            files.append([fp, acc, int(n)])
            acc += int(n)
        spec = {"files": files, "source_cols": source_cols,
                "store_doc": bool(self.config.store_doc),
                "index_cols": list(self.config.columns),
                "source_schema": source_schema or {}}
        tmp = os.path.join(self.index_path, DOCS_VIEW_FILE + ".tmp")
        with open(tmp, "w") as f:
            json.dump(spec, f)
        os.replace(tmp, os.path.join(self.index_path, DOCS_VIEW_FILE))

    # -- build --------------------------------------------------------------
    def build(
        self,
        df: DataFrame,
        id_col: str | None = None,
        order_cols: list[str] | None = None,
        overwrite: bool = False,
        n_chunks: int = 1,
        position_ids: bool = False,
        docs_mode: str = "copy",
        docs_sha: str = "sidecar",
    ) -> IndexMeta:
        """Build the full index; resumable at chunk granularity.

        ``position_ids=True`` derives doc ids from the source parquet
        files' row positions (see :meth:`_position_ids`) instead of
        staging a sorted id assignment — the fastest id mode when no
        semantic sort order is required.  Mutually exclusive with
        ``id_col`` / ``order_cols``.

        ``docs_mode``:
          * ``'copy'`` (default): the docs table is a full rewrite of the
            source rows plus per-column sha256 audit columns — the
            reference's stored-field model.
          * ``'view'``: requires ``position_ids=True``.  The index does
            NOT copy the corpus: doc ids are a pure function of the
            pinned source-parquet snapshot, so ``SearchIndex.docs``
            reconstructs the docs table lazily from the source files
            (``_metadata.row_index`` + per-file offsets) and only a slim
            ``(doc_id, sha256_<col>...)`` audit sidecar is written at
            build time (freezing the content hashes the build saw).  At
            corpus scale this removes the single largest build write —
            the engine indexes 100 TB without re-writing 100 TB.
            ``append``/``compact(purge_deletes=True)`` are rejected on a
            view index (they would have to rewrite source files the
            index does not own); deletes/tombstones work unchanged.

        ``docs_sha`` (view mode only):
          * ``'sidecar'`` (default): the build scans the corpus once to
            write the ``(doc_id, sha256_<col>)`` audit sidecar — the
            hashes the build actually saw, detectable against later
            source bit-rot.
          * ``'defer'``: no sidecar, no docs write AT ALL — the docs
            stage reduces to writing ``docs_view.json`` (part ranges are
            derived arithmetically: position ids are dense 0..N-1 over
            the snapshot).  sha256 columns still appear on every
            ``SearchIndex.docs`` read, computed from the source rows —
            the per-row content-sha equality invariant is definitionally
            preserved (docs ARE the source rows).  The minimal-write
            build: segments + merge + stats only.
        """
        if docs_mode not in ("copy", "view"):
            raise ValueError(f"docs_mode must be 'copy' or 'view', got {docs_mode!r}")
        if docs_sha not in ("sidecar", "defer"):
            raise ValueError(f"docs_sha must be 'sidecar' or 'defer', got {docs_sha!r}")
        if docs_mode == "view" and not position_ids:
            raise ValueError(
                "docs_mode='view' requires position_ids=True: doc ids must "
                "be a pure function of the source snapshot for the lazy "
                "docs view to be stable")
        if docs_sha == "defer" and docs_mode != "view":
            raise ValueError(
                "docs_sha='defer' only applies to docs_mode='view' "
                "(copy mode always writes the docs table with sha columns)")
        t_all = time.time()
        if overwrite and os.path.exists(self.index_path):
            shutil.rmtree(self.index_path)
        os.makedirs(self.index_path, exist_ok=True)

        staged_ck: dict | None = None
        source_cols: list[str] | None = None
        if position_ids:
            if id_col is not None or order_cols is not None:
                raise ValueError(
                    "position_ids is mutually exclusive with id_col/order_cols")
            source_cols = [c for c in df.columns if c != "doc_id"]
            df, staged_ck = self._position_ids(df)
            id_col = "doc_id"
        elif id_col is None:
            # stage assigned ids to disk: doc_ids must be stable across a
            # killed-and-restarted build for chunk-level resume
            staged_path = os.path.join(self.index_path, "_staged")
            staged_ck = self._ckpt_done("staged")
            if staged_ck is None:
                t0 = time.time()
                cols = order_cols or self.config.columns
                if self.durable_ids:
                    presort = staged_path + "_presort"
                    assign_doc_ids_staged(df, cols, presort).write.mode(
                        "overwrite").parquet(staged_path)
                    shutil.rmtree(presort, ignore_errors=True)
                else:
                    assign_doc_ids(df, cols).write.mode(
                        "overwrite").parquet(staged_path)
                staged_ck = {"done": True, "secs": time.time() - t0}
                self._ckpt_write("staged", staged_ck)
            df = self.spark.read.parquet(staged_path)
        elif id_col != "doc_id":
            df = df.withColumnRenamed(id_col, "doc_id")
        src = df.withColumn(
            "part_id", (F.col("doc_id") / F.lit(self.rows_per_part)).cast("int")
        )

        metrics: dict = {"stages": {}}
        if staged_ck is not None:
            metrics["stages"]["staged"] = staged_ck

        # ---- docs table (sha256 audit column, JVM-only expressions) -------
        docs_ck = self._ckpt_done("docs")
        if docs_ck is None:
            t0 = time.time()
            sha_cols = [
                F.sha2(F.coalesce(F.col(c), F.lit("")), 256).alias(f"sha256_{c}")
                for c in self.config.columns
            ]
            _src_schema = {f.name: f.dataType.simpleString()
                           for f in df.schema.fields if f.name != "doc_id"}
            if docs_mode == "view" and docs_sha == "defer":
                # minimal-write path: no docs table at all.  Position
                # ids are dense 0..N-1 over the pinned snapshot, so the
                # part ranges are pure arithmetic — no scan, no job,
                # and meta stores the O(1) dense descriptor instead of
                # one part_ranges entry per part (at 10^12 docs the
                # explicit list alone would be gigabytes of JSON)
                self._write_docs_view(source_cols or [], _src_schema)
                n = int(staged_ck["n_rows"]) if staged_ck else 0
                rpp = self.rows_per_part
                docs_ck = {"total_docs": n, "secs": time.time() - t0,
                           "docs_per_sec": n / max(time.time() - t0, 1e-9),
                           "min_doc": 0, "max_doc": max(n - 1, 0),
                           "dense": [n, rpp], "rows_per_part": rpp,
                           "docs_mode": docs_mode, "docs_sha": docs_sha}
                self._ckpt_write("docs", docs_ck)
            elif docs_mode == "view":
                # slim audit sidecar only: the corpus itself is never
                # rewritten; SearchIndex.docs reconstructs rows from the
                # pinned source snapshot (see _write_docs_view below)
                src.select("doc_id", *sha_cols).write.mode(
                    "overwrite").parquet(os.path.join(self.index_path, DOCS_DIR))
                self._write_docs_view(source_cols or [], _src_schema)
            else:
                keep = [c for c in src.columns if c != "part_id"] if self.config.store_doc \
                    else [c for c in src.columns
                          if c not in self.config.columns and c != "part_id"]
                src.select(*keep, *sha_cols).write.mode("overwrite").parquet(
                    os.path.join(self.index_path, DOCS_DIR)
                )
            if docs_ck is None:  # defer path built its checkpoint above
                # one read-back job doubles as the part-range scan:
                # per-part bounds here make the later meta part_ranges
                # job unnecessary
                pr = [
                    [int(r["part_id"]), int(r["first"]), int(r["last"]),
                     int(r["rows"])]
                    for r in self.spark.read.parquet(
                        os.path.join(self.index_path, DOCS_DIR))
                    .select("doc_id")
                    .withColumn("part_id", (F.col("doc_id")
                                            / F.lit(self.rows_per_part)).cast("int"))
                    .groupBy("part_id").agg(
                        F.min("doc_id").alias("first"),
                        F.max("doc_id").alias("last"),
                        F.count("*").alias("rows")).collect()
                ]
                n = sum(x[3] for x in pr)
                docs_ck = {"total_docs": n, "secs": time.time() - t0,
                           "docs_per_sec": n / max(time.time() - t0, 1e-9),
                           "min_doc": min((x[1] for x in pr), default=0),
                           "max_doc": max((x[2] for x in pr), default=0),
                           "part_ranges": sorted(pr),
                           "rows_per_part": self.rows_per_part,
                           "docs_mode": docs_mode, "docs_sha": docs_sha}
                self._ckpt_write("docs", docs_ck)
        elif docs_ck.get("docs_mode", "copy") != docs_mode:
            raise ValueError(
                f"resume: this build was checkpointed with docs_mode="
                f"{docs_ck.get('docs_mode', 'copy')!r}; restart with "
                f"overwrite=True to change it")
        elif (docs_mode == "view"
              and docs_ck.get("docs_sha", "sidecar") != docs_sha):
            # ADVICE r4: without this a crashed view+sidecar build
            # resumed with docs_sha='defer' (or vice versa) silently
            # kept the checkpointed variant
            raise ValueError(
                f"resume: this build was checkpointed with docs_sha="
                f"{docs_ck.get('docs_sha', 'sidecar')!r}; restart with "
                f"overwrite=True to change it")
        elif docs_ck.get("rows_per_part",
                         self.rows_per_part) != self.rows_per_part:
            # part ranges, the dense descriptor and every later stage
            # are keyed by the checkpointed rows_per_part; mixing it with
            # a new value would mis-assign docs to parts
            raise ValueError(
                f"resume: this build was checkpointed with rows_per_part="
                f"{docs_ck['rows_per_part']!r}; restart with "
                f"overwrite=True to change it")
        total_docs = docs_ck["total_docs"]
        metrics["stages"]["docs"] = docs_ck

        if total_docs == 0:
            # Reference parity: an index created and committed with zero
            # docs opens and serves every query as empty
            # (BoundaryIndexSearch.cpp ffiBM25SearchEmptyIndex /
            # ffiQuerySentenceBitmapEmptyIndex).  Write schema-bearing
            # zero-row postings/stats files (coalesce(1), no
            # partitionBy — a partitioned write of 0 rows leaves no
            # readable data file) so both the Spark and embedded tiers
            # open without schema inference failures.
            cfg_json = self.config.to_json()
            self.spark.createDataFrame([], layout.POSTINGS_SCHEMA) \
                .coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(self.index_path, POSTINGS_DIR))
            self.spark.createDataFrame([], layout.STATS_SCHEMA) \
                .coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(self.index_path, STATS_DIR))
            metrics["total_secs"] = time.time() - t_all
            metrics["docs_per_sec"] = 0.0
            meta = IndexMeta(
                config_json=cfg_json,
                num_parts=0,
                total_docs=0,
                total_tokens={c: 0 for c in self.config.columns},
                part_ranges=[],
                build_metrics=metrics,
                committed_fence=self._data_fence(),
                docs_mode=docs_mode if docs_mode != "copy" else None,
            )
            meta.save(self.index_path)
            return meta

        # doc_ids need not start at 0 (e.g. a later part of a global id
        # space): derive the part range from the actual id bounds
        if "min_doc" in docs_ck:
            bounds_ck = docs_ck
        else:  # resume from an older checkpoint layout
            bounds_ck = self._ckpt_done("id_bounds")
            if bounds_ck is None:
                r = self.spark.read.parquet(
                    os.path.join(self.index_path, DOCS_DIR)
                ).agg(F.min("doc_id").alias("lo"),
                      F.max("doc_id").alias("hi")).collect()[0]
                bounds_ck = {"min_doc": int(r["lo"] or 0),
                             "max_doc": int(r["hi"] or 0)}
                self._ckpt_write("id_bounds", bounds_ck)
        first_part = bounds_ck["min_doc"] // self.rows_per_part
        last_part = bounds_ck["max_doc"] // self.rows_per_part
        num_parts = max(1, last_part - first_part + 1)

        # ---- segments stage (chunked for resumability) ---------------------
        chunk_bounds = np.linspace(first_part, last_part + 1, n_chunks + 1).astype(int)
        cfg_json = self.config.to_json()
        seg_path = os.path.join(self.index_path, SEGMENTS_DIR)
        seg_metrics = []
        for ci in range(n_chunks):
            lo, hi = int(chunk_bounds[ci]), int(chunk_bounds[ci + 1])
            if lo == hi:
                continue
            name = f"segments_chunk{ci}"
            ck = self._ckpt_done(name)
            if ck is not None:
                seg_metrics.append(ck)
                continue
            t0 = time.time()
            chunk_df = src.where(
                (F.col("doc_id") >= lo * self.rows_per_part)
                & (F.col("doc_id") < hi * self.rows_per_part)
            ).select("part_id", "doc_id", *self.config.columns)
            use_stream = (self.segment_shuffle == "stream"
                          or (self.segment_shuffle == "auto"
                              and (id_col is None or position_ids)))
            if use_stream:
                # zero-shuffle: parts cut inside each (ordered) input
                # partition; see _segment_builder_stream
                frags = chunk_df.mapInArrow(
                    _segment_builder_stream(cfg_json),
                    layout.SEGMENTS_SCHEMA)
            else:
                frags = chunk_df.groupBy("part_id").applyInArrow(
                    _segment_builder(cfg_json), layout.SEGMENTS_SCHEMA)
            frags.write.mode("overwrite").parquet(
                os.path.join(seg_path, f"chunk={ci}")
            )
            # lineage: per-(part, col) doc ranges + token mass from the
            # fragments — the col split lets meta's total_tokens fold
            # from lineage with no extra segments job
            lineage = [
                {"part_id": r["part_id"], "col": r["col"],
                 "terms": r["terms"],
                 "postings": r["postings"], "tokens": r["tokens"]}
                for r in self.spark.read.parquet(
                    os.path.join(seg_path, f"chunk={ci}")
                ).groupBy("part_id", "col").agg(
                    F.count("*").alias("terms"),
                    F.sum("df").alias("postings"),
                    F.sum("sum_tf").alias("tokens"),
                ).collect()
            ]
            secs = time.time() - t0
            if n_chunks == 1:
                chunk_docs = total_docs  # single chunk covers everything
            elif "dense" in docs_ck:
                # defer builds write no docs table at all — but ids are
                # dense 0..N-1 by construction, so the chunk's doc count
                # is pure arithmetic (ADVICE r4: scanning DOCS_DIR here
                # crashed defer+chunked builds with PATH_NOT_FOUND)
                dn, drpp = int(docs_ck["dense"][0]), int(docs_ck["dense"][1])
                chunk_docs = max(0, min(hi * drpp, dn) - min(lo * drpp, dn))
            else:
                chunk_docs = self.spark.read.parquet(
                    os.path.join(self.index_path, DOCS_DIR)
                ).where(
                    (F.col("doc_id") >= lo * self.rows_per_part)
                    & (F.col("doc_id") < hi * self.rows_per_part)
                ).count()
            ck = {"chunk": ci, "parts": [lo, hi], "secs": secs,
                  "docs": chunk_docs, "docs_per_sec": chunk_docs / max(secs, 1e-9),
                  "lineage": lineage}
            self._ckpt_write(name, ck)
            seg_metrics.append(ck)
        metrics["stages"]["segments"] = {
            "chunks": seg_metrics,
            "secs": sum(c["secs"] for c in seg_metrics),
            "docs_per_sec": total_docs / max(sum(c["secs"] for c in seg_metrics), 1e-9),
        }

        # ---- stats stage ------------------------------------------------------
        # merging never changes a term's summed df, so the global term
        # dictionary is aggregated once, from the fragments, and the
        # merge below reads its hot terms from it
        segs = self.spark.read.parquet(os.path.join(seg_path, "chunk=*"))
        stats_dir = os.path.join(self.index_path, STATS_DIR)
        stats_ck = self._ckpt_done("stats")
        if stats_ck is None:
            t0 = time.time()
            # partitionBy(bucket): per-query stats lookups prune partition
            # dirs with the same bucket predicate as _candidate_postings
            _term_stats(segs).write.mode("overwrite").partitionBy(
                "bucket").parquet(stats_dir)
            stats_ck = {"secs": time.time() - t0}
            self._ckpt_write("stats", stats_ck)
        metrics["stages"]["stats"] = stats_ck

        # ---- merge stage ----------------------------------------------------
        merge_ck = self._ckpt_done("merge")
        if merge_ck is None:
            t0 = time.time()
            merged = self._merge_fragments(
                segs, self.spark.read.parquet(stats_dir), cfg_json)
            merged.write.mode("overwrite").partitionBy("bucket").parquet(
                os.path.join(self.index_path, POSTINGS_DIR)
            )
            secs = time.time() - t0
            merge_ck = {"secs": secs,
                        "docs_per_sec": total_docs / max(secs, 1e-9)}
            self._ckpt_write("merge", merge_ck)
        metrics["stages"]["merge"] = merge_ck

        # ---- meta ----------------------------------------------------------
        total_tokens = {c: 0 for c in self.config.columns}
        # token totals fold from the per-(part, col) chunk lineage when
        # available (no extra job); older checkpoints lack the col split
        # and recompute per col from segments
        lineage_entries = [e for c in seg_metrics for e in c.get("lineage", [])]
        if lineage_entries and all("col" in e for e in lineage_entries):
            for e in lineage_entries:
                if e["col"] in total_tokens:
                    total_tokens[e["col"]] += int(e["tokens"])
        else:
            segs = self.spark.read.parquet(os.path.join(seg_path, "chunk=*"))
            for r in segs.groupBy("col").agg(F.sum("sum_tf").alias("n")).collect():
                total_tokens[r["col"]] = int(r["n"])
        # part ranges fold from the docs stage's read-back when it was
        # recorded at this rows_per_part (one job saved); resume from an
        # older docs checkpoint falls back to the scan
        dense_ranges = None
        if docs_ck.get("dense") is not None \
                and docs_ck.get("rows_per_part") == self.rows_per_part:
            dense_ranges = [int(x) for x in docs_ck["dense"]]
            part_ranges = None
        elif docs_ck.get("part_ranges") is not None \
                and docs_ck.get("rows_per_part") == self.rows_per_part:
            part_ranges = [list(map(int, x)) for x in docs_ck["part_ranges"]]
            # the ranges live in meta.part_ranges below — don't duplicate
            # the (potentially long) list inside build_metrics too
            metrics["stages"]["docs"] = {
                k: v for k, v in docs_ck.items() if k != "part_ranges"}
        else:
            part_ranges = [
                [int(r["part_id"]), int(r["first"]), int(r["last"]), int(r["rows"])]
                for r in self.spark.read.parquet(os.path.join(self.index_path, DOCS_DIR))
                .withColumn("part_id",
                            (F.col("doc_id") / F.lit(self.rows_per_part)).cast("int"))
                .groupBy("part_id").agg(
                    F.min("doc_id").alias("first"), F.max("doc_id").alias("last"),
                    F.count("*").alias("rows")).collect()
            ]
        metrics["total_secs"] = time.time() - t_all
        metrics["docs_per_sec"] = total_docs / max(metrics["total_secs"], 1e-9)
        meta = IndexMeta(
            config_json=cfg_json,
            num_parts=num_parts,
            total_docs=total_docs,
            total_tokens=total_tokens,
            part_ranges=sorted(part_ranges) if part_ranges is not None else None,
            build_metrics=metrics,
            committed_fence=self._data_fence(),
            docs_mode=docs_mode if docs_mode != "copy" else None,
            dense_ranges=dense_ranges,
        )
        meta.save(self.index_path)
        return meta

    #: terms with at least this many postings get their fragments merged
    #: at build time; everything below passes through fragmented (see
    #: _merge_fragments).  Tune per corpus; compact() folds the tail.
    merge_hot_df: int = 65_536

    def _merge_fragments(self, segs: DataFrame, term_stats: DataFrame,
                         cfg_json: str) -> DataFrame:
        """Segment fragments -> posting rows: merge heavy hitters only.

        Fragments per (col, term, shard) group are bounded by
        parts_per_shard by construction, so merging buys at most that
        factor in row count — while routing a group through
        applyInPandas costs fixed per-group Python overhead.  At
        realistic vocabulary (zipf identifier tail, 10^5..10^9 distinct
        terms) per-group merging is the scale cliff: measured 29 min of
        a 32-min build spent on ~10^6 tiny pandas groups at 200k vocab.
        Policy here mirrors an LSM: only terms whose total posting
        count is >= ``merge_hot_df`` (the heavy hitters — by zipf a
        small set, so the semi/anti joins stay broadcast) are merged in
        pandas; the tail passes through as a pure JVM projection —
        fragment rows are already valid posting rows over disjoint doc
        ranges, every query path treats rows independently, and
        compact() can fold them later (reference analog: LogMergePolicy
        merges small segments in the background, not on the write path
        — index_manager.rs:90-92).  ``sub`` for pass-through rows =
        part_id % parts_per_shard (unique within the shard).

        ``term_stats`` holds (col, term, df) for the fragments in
        ``segs`` — the stats table the build already wrote from them —
        so the hot-term test is a filter over the term dictionary, not a
        second aggregation over every fragment.
        """
        pps = self.config.parts_per_shard
        hot_terms = (term_stats.where(F.col("df") >= self.merge_hot_df)
                     .select("col", "term"))
        post_cols = [f.name for f in layout.POSTINGS_SCHEMA.fields]

        def passthrough(rows: DataFrame) -> DataFrame:
            return rows.withColumn(
                "sub", (F.col("part_id") % pps).cast("int")).select(*post_cols)

        # the term dictionary is known before the merge: when it names no
        # hot term (small builds and appends) every fragment passes
        # through, with no semi/anti join and no empty grouped-map shuffle
        if not hot_terms.limit(1).collect():
            return passthrough(segs)
        big = segs.join(F.broadcast(hot_terms), ["col", "term"], "left_semi")
        small = segs.join(F.broadcast(hot_terms), ["col", "term"],
                          "left_anti")
        # pin the grouped-map exchange width: encoded fragment blobs are
        # small ON THE WIRE but each row costs a decode+concat+re-encode
        # pass in pandas, so AQE's byte-based coalescing (1-2 MB shuffle
        # partitions -> ~3 tasks) serializes the CPU-heaviest part of the
        # merge.  repartition(n, keys) is REPARTITION_BY_NUM — AQE leaves
        # it alone — and HashPartitioning on the group keys satisfies the
        # grouped-map's distribution, so no second exchange appears.
        # (Same failure class as the batch scorer's pinned exchanges,
        # search/engine.py _batch pinning.)
        n_merge = self.spark.sparkContext.defaultParallelism * 2
        merged = (big.repartition(n_merge, "col", "term", "shard")
                  .groupBy("col", "term", "shard").applyInPandas(
                      _merger(cfg_json), layout.POSTINGS_SCHEMA))
        return merged.unionByName(passthrough(small))

    # -- compaction (reference B8, LogMergePolicy analog) ---------------------
    def compact(self, min_rows_per_group: int = 2,
                purge_deletes: bool = False) -> dict:
        """Fold multi-row (col, term, shard) posting groups into minimal
        rows.  Appends are strictly additive (each lands in new doc-range
        parts), so a hot (term, shard) key accumulates one extra row per
        append — the Spark analog of Tantivy's small segments, which the
        reference's LogMergePolicy folds in the background once >= 5
        accumulate (src/index/implements/index_manager.rs:90-92).  Here
        compaction is an explicit job: only groups with >=
        ``min_rows_per_group`` rows are rewritten (decode -> concat
        disjoint sorted runs -> re-encode uniform blocks); singleton
        groups are copied through untouched, so the rewrite cost is
        proportional to the fragmented fraction, not the index size.
        Queries are unaffected either way — both scoring paths treat
        rows independently.

        ``purge_deletes=True`` additionally folds the tombstone set into
        the rewrite — Tantivy's merge drops deleted docs the same way
        (alive-bitset applied at segment merge), so delete sets stop
        growing without bound and queries stop paying the serve-time
        mask.  Physically: every posting group whose doc range overlaps
        a tombstone is rewritten with those postings removed, the docs
        table drops the rows, stats (df) are recomputed from the
        rewritten postings, and meta (total_docs, per-col total_tokens,
        part_ranges) is recomputed exactly — so the purged index is
        indistinguishable from one where the docs were never indexed
        (property-pinned in tests/test_purge.py), including BM25 scores
        (idf/avgdl shift to the post-delete corpus, exactly like a
        Tantivy merge).  The tombstone set rides one Spark broadcast of
        8 bytes/id during the rewrite; the job is offline/heavyweight by
        design.  Construct the builder with the build's
        ``rows_per_part`` (same requirement as ``append``).  Crash-safe:
        table swaps use the recover_swaps rename protocol, deleted docs
        can never resurrect (tombstones are cleared only after postings
        are purged), and a re-run after any crash point converges.
        """
        spark = self.spark
        cfg_json = self.config.to_json()
        if purge_deletes and getattr(
                IndexMeta.load(self.index_path), "docs_mode", None) == "view":
            raise ValueError(
                "compact(purge_deletes=True) is not supported on a "
                "docs_mode='view' index: the docs table is the source "
                "snapshot itself and cannot be rewritten. Tombstoned "
                "docs stay masked at serve time; rebuild from a pruned "
                "source snapshot to drop them physically (plain "
                "compact() without purge_deletes works normally)")
        layout.recover_swaps(self.index_path, drop_stray=True)
        postings_dir = os.path.join(self.index_path, POSTINGS_DIR)
        postings = spark.read.parquet(postings_dir)
        if "positions" not in postings.columns:
            # round-1 layout (no positions column): compact rewrites into
            # the current schema with empty buffers
            postings = postings.withColumn("positions", F.lit(b""))

        tomb_dir = os.path.join(self.index_path, TOMBSTONES_DIR)
        purge_bc = None
        tombs_df = None
        if purge_deletes and os.path.isdir(tomb_dir) and any(
                n.endswith(".parquet") for n in os.listdir(tomb_dir)):
            tombs_df = spark.read.parquet(tomb_dir).select("doc_id").distinct()
            purge_arr = np.sort(
                tombs_df.toPandas()["doc_id"].to_numpy(np.int64))
            if purge_arr.size:
                purge_bc = spark.sparkContext.broadcast(purge_arr)

        grouped = postings.groupBy("col", "term", "shard")
        if purge_bc is not None:
            # a group is rewritten if fragmented OR any of its rows' doc
            # ranges [first block_first, last block_last] overlaps a
            # tombstone (exact overlap test via two searchsorteds)
            @F.pandas_udf("boolean")
            def _touched(lo: pd.Series, hi: pd.Series) -> pd.Series:
                t = purge_bc.value
                lo_i = np.searchsorted(t, lo.to_numpy(np.int64), "left")
                hi_i = np.searchsorted(t, hi.to_numpy(np.int64), "right")
                return pd.Series(hi_i > lo_i)

            flags = postings.withColumn(
                "_t", _touched(F.element_at("block_first", 1),
                               F.element_at("block_last", -1))) \
                .groupBy("col", "term", "shard").agg(
                    F.count("*").alias("_rows"), F.max("_t").alias("_hit"))
            rewrite_keys = flags.where(
                (F.col("_rows") >= min_rows_per_group) | F.col("_hit"))
        else:
            counts = grouped.agg(F.count("*").alias("_rows"))
            rewrite_keys = counts.where(F.col("_rows") >= min_rows_per_group)
        frag = postings.join(rewrite_keys, ["col", "term", "shard"],
                             "left_semi")
        intact = postings.join(rewrite_keys, ["col", "term", "shard"],
                               "left_anti")

        n_frag_rows = frag.count()
        t0 = time.time()
        # pinned exchange width — same rationale as _merge_fragments:
        # heavy pandas work per byte-light shuffled row; don't let AQE
        # byte-coalesce the rewrite down to a few tasks
        n_cpt = self.spark.sparkContext.defaultParallelism * 2
        compacted = (frag.repartition(n_cpt, "col", "term", "shard")
                     .groupBy("col", "term", "shard").applyInPandas(
                         _compactor(cfg_json, purge_bc=purge_bc),
                         layout.POSTINGS_SCHEMA))
        out = intact.select(*[f.name for f in layout.POSTINGS_SCHEMA.fields]) \
            .unionByName(compacted)
        new_dir = postings_dir + "_compacting"
        shutil.rmtree(new_dir, ignore_errors=True)
        out.write.mode("overwrite").partitionBy("bucket").parquet(new_dir)
        self._ensure_readable(new_dir, layout.POSTINGS_SCHEMA)
        # swap (same pattern as stats swap in append())
        old_dir = postings_dir + "_old"
        shutil.rmtree(old_dir, ignore_errors=True)
        os.rename(postings_dir, old_dir)
        os.rename(new_dir, postings_dir)
        shutil.rmtree(old_dir)
        n_after = spark.read.parquet(postings_dir).count()
        metrics = {
            "fragmented_rows": n_frag_rows,
            "rows_after": n_after,
            "secs": round(time.time() - t0, 3),
        }
        if purge_bc is not None:
            metrics.update(self._purge_commit(tombs_df, tomb_dir))
        self._ckpt_write(
            f"compact{int(time.time())}", metrics)
        return metrics

    def _purge_commit(self, tombs_df: DataFrame, tomb_dir: str) -> dict:
        """Post-postings-purge commit sequence: docs-table rewrite,
        stats/meta recompute from the purged tables, tombstone clear,
        meta save.  Ordered so a crash at ANY point leaves a queryable
        index that never returns a deleted doc (postings are already
        purged when this runs; until the meta commit, stale totals only
        shift scores within the pre-purge masked semantics)."""
        spark = self.spark
        meta = IndexMeta.load(self.index_path)

        # docs table: drop tombstoned rows (anti-join — no broadcast cap)
        docs_dir = os.path.join(self.index_path, DOCS_DIR)
        docs_src = spark.read.parquet(docs_dir)
        docs_src.join(tombs_df, "doc_id", "left_anti") \
            .write.mode("overwrite").parquet(docs_dir + "_new")
        self._ensure_readable(docs_dir + "_new", docs_src.schema)
        os.rename(docs_dir, docs_dir + "_old")
        os.rename(docs_dir + "_new", docs_dir)
        shutil.rmtree(docs_dir + "_old")

        # stats: df recomputed from the purged postings
        postings = spark.read.parquet(
            os.path.join(self.index_path, POSTINGS_DIR))
        stats_dir = os.path.join(self.index_path, STATS_DIR)
        _term_stats(postings).write.mode("overwrite").partitionBy(
            "bucket").parquet(stats_dir + "_new")
        self._ensure_readable(stats_dir + "_new", layout.STATS_SCHEMA)
        os.rename(stats_dir, stats_dir + "_old")
        os.rename(stats_dir + "_new", stats_dir)
        shutil.rmtree(stats_dir + "_old")

        # exact totals from the purged tables (segments chunks retain the
        # pre-purge token mass, so they cannot be the source here; append
        # maintains totals additively off this meta from now on)
        @F.pandas_udf("long")
        def _tf_mass(tfs: pd.Series) -> pd.Series:
            return tfs.map(lambda b: int(np.frombuffer(b, "<u4").sum())
                           if b else 0)

        total_tokens = {c: 0 for c in self.config.columns}
        for r in postings.select("col", _tf_mass("tfs").alias("n")) \
                .groupBy("col").agg(F.sum("n").alias("n")).collect():
            total_tokens[r["col"]] = int(r["n"])
        docs_df = spark.read.parquet(docs_dir)
        total_docs = docs_df.count()
        part_ranges = [
            [int(r["part_id"]), int(r["first"]), int(r["last"]),
             int(r["rows"])]
            for r in docs_df.withColumn(
                "part_id",
                (F.col("doc_id") / F.lit(self.rows_per_part)).cast("int"))
            .groupBy("part_id").agg(
                F.min("doc_id").alias("first"),
                F.max("doc_id").alias("last"),
                F.count("*").alias("rows")).collect()
        ]

        # tombstones are folded in — clear them, then commit the meta
        # (also retires any bitmap sidecar via the fence/total_docs check)
        shutil.rmtree(tomb_dir, ignore_errors=True)
        n_purged = (meta.total_docs or 0) - total_docs
        IndexMeta(
            config_json=meta.config_json,
            num_parts=len(part_ranges),
            total_docs=total_docs,
            total_tokens=total_tokens,
            part_ranges=sorted(part_ranges),
            build_metrics=meta.build_metrics,
            committed_fence=self._data_fence(),
            # pre-purge id high-water mark: append() must never reissue
            # a purged id to a new doc
            max_doc_id=max(
                layout.max_doc_bound(meta),
                meta.max_doc_id if meta.max_doc_id is not None else -1),
        ).save(self.index_path)
        return {"purged_docs": int(n_purged), "total_docs": int(total_docs)}

    def optimize_layout(self, row_group_mb: int = 4) -> dict:
        """Term-major rewrite of the postings table — serve-optimize.

        The merge stage writes posting rows in task order, so a term's
        fragment rows (tail terms pass through unmerged, one row per
        part — `_merge_fragments`) smear across every file of their
        bucket: parquet term min/max statistics then prune nothing, and
        a single-term lookup reads ~the whole bucket's heavy columns
        (measured 177 ms/term on a 5.6M-doc index whose real postings
        were a few KB).  This job re-sorts each bucket by (col, term,
        shard, sub) into one file with small row groups — a pure JVM
        repartition+sort (no Python stage, rows and encodings are
        byte-identical), after which term row-group pruning works for
        BOTH tiers: the embedded pyarrow reader (row-group stats) and
        the Spark scan (page-level column index).  The reference analog
        is Tantivy's term-dictionary-ordered .idx segment layout, which
        gets this locality by construction.

        Idempotent; call after build/append/compact.  Open readers must
        ``reload()`` afterwards (same contract as compact)."""
        spark = self.spark
        layout.recover_swaps(self.index_path, drop_stray=True)
        postings_dir = os.path.join(self.index_path, POSTINGS_DIR)
        postings = spark.read.parquet(postings_dir)
        t0 = time.time()
        new_dir = postings_dir + "_optimizing"
        shutil.rmtree(new_dir, ignore_errors=True)
        # NO exchange: the hive layout already groups each bucket's
        # files, and Spark's file splits never span files, so every
        # read task holds whole buckets — an in-task sort plus the
        # partitionBy writer gives per-bucket term-sorted files with
        # zero shuffle (a full repartition spills ~the index size to
        # shuffle disk for nothing)
        (postings
         .sortWithinPartitions("bucket", "col", "term", "shard", "sub")
         .write.mode("overwrite")
         .option("parquet.block.size", row_group_mb * 1024 * 1024)
         .partitionBy("bucket").parquet(new_dir))
        old_dir = postings_dir + "_old"
        shutil.rmtree(old_dir, ignore_errors=True)
        os.rename(postings_dir, old_dir)
        os.rename(new_dir, postings_dir)
        shutil.rmtree(old_dir)
        metrics = {"secs": round(time.time() - t0, 3),
                   "row_group_mb": row_group_mb}
        self._ckpt_write(f"optimize{int(time.time())}", metrics)
        return metrics

    def build_bitmap_sidecar(self, min_df: int | None = None,
                             chunk_bytes: int = 16 * 1024 * 1024) -> dict:
        """Precompute packed u8 bitmaps for hot terms (df >= min_df).

        The bitmap family (Q1-Q4) answers with a row-id bitmap; for a
        hot term on a large corpus the embedded tier's cold path decodes
        millions of delta ids and scatters them into a packed array per
        first query.  The reference never pays this: its skip-index
        bitmaps are materialized structures served as-is (ClickHouse
        skip-index granule bitmaps; tantivy's analog is the alive
        bitset segment file).  This job materializes the same thing:
        one little-endian packed bitmap per hot (col, term), chunked for
        Arrow, written under ``bitmaps/`` with a `_sidecar.json` fence.

        Serving contract (engine._sidecar_bitmaps): the embedded tier
        uses the sidecar only while its recorded fence matches the live
        meta — append()/compact() save a new meta and silently retire
        it (re-run this job afterwards).  Deletes do NOT retire it:
        tombstones are masked at serve time, exactly like the postings
        path.  Cold terms (df < min_df) keep the decode path — their
        bitmaps are cheap and precomputing every tail term would dwarf
        the postings themselves.

        Default min_df = max(1024, total_docs // 100): bitmaps cost
        ~total_docs/8 bytes each, so this caps sidecar size at ~12.5x
        postings-bytes-per-hot-term while covering every term whose
        scatter actually hurts."""
        spark = self.spark
        meta = IndexMeta.load(self.index_path)
        if min_df is None:
            min_df = max(1024, meta.total_docs // 100)
        layout.recover_swaps(self.index_path, drop_stray=True)
        t0 = time.time()
        stats = spark.read.parquet(os.path.join(self.index_path, STATS_DIR))
        hot = stats.where(F.col("df") >= min_df).select("col", "term")
        n_hot = hot.count()
        bitmaps_dir = os.path.join(self.index_path, BITMAPS_DIR)
        new_dir = bitmaps_dir + "_building"
        shutil.rmtree(new_dir, ignore_errors=True)
        if n_hot:
            postings = spark.read.parquet(
                os.path.join(self.index_path, POSTINGS_DIR))
            # pinned exchange width (REPARTITION_BY_NUM): the packer is
            # decode+scatter CPU-heavy per row while the shuffled blobs
            # are byte-light — AQE's byte-based coalescing would
            # serialize it (same class as the _merge_fragments pin)
            n_pack = spark.sparkContext.defaultParallelism * 2
            (postings
             .join(F.broadcast(hot), ["col", "term"], "left_semi")
             .select("col", "term", "block_first", "deltas")
             .repartition(n_pack, "col", "term")
             .groupBy("col", "term")
             .applyInPandas(
                 _bitmap_packer(self.config.block_size, chunk_bytes),
                 BITMAP_SIDECAR_SCHEMA)
             .write.mode("overwrite").parquet(new_dir))
        else:
            os.makedirs(new_dir, exist_ok=True)
        with open(os.path.join(new_dir, "_sidecar.json"), "w") as f:
            json.dump({"fence": meta.committed_fence,
                       "total_docs": meta.total_docs,
                       "num_parts": meta.num_parts,
                       "min_df": min_df, "n_terms": n_hot}, f)
        old_dir = bitmaps_dir + "_old"
        shutil.rmtree(old_dir, ignore_errors=True)
        if os.path.exists(bitmaps_dir):
            os.rename(bitmaps_dir, old_dir)
        os.rename(new_dir, bitmaps_dir)
        shutil.rmtree(old_dir, ignore_errors=True)
        metrics = {"secs": round(time.time() - t0, 3),
                   "n_terms": n_hot, "min_df": min_df}
        self._ckpt_write(f"bitmaps{int(time.time())}", metrics)
        return metrics

    def _data_fence(self) -> float:
        """Max mtime over the index's data files right before a meta
        save — stored as IndexMeta.committed_fence so repair() can skip
        committed files without trusting wall-clock margins.  getmtime
        only (no footer reads); the directory walk is the same cost
        repair() already pays."""
        import glob as _glob

        fence = 0.0
        for sub in (DOCS_DIR, POSTINGS_DIR):
            for f in _glob.glob(os.path.join(self.index_path, sub, "**",
                                             "*.parquet"), recursive=True):
                try:
                    fence = max(fence, os.path.getmtime(f))
                except OSError:
                    pass
        return fence

    def _ensure_readable(self, out_dir: str, schema) -> None:
        """A parquet write of 0 rows (dynamic-partition or all-empty
        tasks) can leave a directory with no data file — unreadable
        (UNABLE_TO_INFER_SCHEMA) for every later open.  Reachable when
        a purge removes EVERY doc.  Rewrite a schema-bearing empty
        table then, same pattern as the zero-doc build path."""
        has = any(f.endswith(".parquet")
                  for _, _, fs in os.walk(out_dir) for f in fs)
        if not has:
            self.spark.createDataFrame([], schema).coalesce(1) \
                .write.mode("overwrite").parquet(out_dir)

    def vacuum_segments(self) -> dict:
        """Drop the intermediate segments table of a COMMITTED index.

        Segments exist as merge input and lineage source; at corpus
        scale they cost about as many bytes as the postings themselves
        (measured 160 MB segments vs 199 MB postings at 960k docs — a
        100 TB build would leave ~index-sized dead weight).  Once meta
        carries total_tokens (every modern build) nothing reads them
        outside a resumed build: append() totals are additive off the
        prior meta and read only their own new chunk, repair() treats
        a missing segments dir as empty, and queries never touch them.
        Runs repair() first so a crashed append's orphan chunks are
        adjudicated before the evidence is dropped.  Refuses on a
        legacy meta without total_tokens (there, segments are still
        the recompute source).  Idempotent."""
        meta = IndexMeta.load(self.index_path)  # raises if uncommitted
        if meta.total_tokens is None:
            raise ValueError(
                "vacuum_segments: legacy meta has no total_tokens — "
                "segments are still the recompute source of truth; "
                "run one append() (which backfills totals) first")
        self.repair()
        seg_dir = os.path.join(self.index_path, SEGMENTS_DIR)
        freed = 0
        if os.path.isdir(seg_dir):
            for root, _, files in os.walk(seg_dir):
                for f in files:
                    try:
                        freed += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            shutil.rmtree(seg_dir)
        return {"freed_bytes": freed}

    # -- crash repair ---------------------------------------------------------
    def repair(self) -> dict:
        """Remove the artifacts of a crashed append().

        A successful append is linearized by the final meta save: every
        committed doc id is <= the meta's max part range.  A crash
        mid-append leaves docs/postings FILES whose ids all exceed that
        bound (append-mode parquet writes create new files containing
        only the new rows) — and, left in place, the next append would
        re-assign the same id range (duplicate doc ids).  Repair drops
        exactly those files (docs via parquet footer statistics,
        postings via a column-pruned block_first read) and, if the
        stats table was already swapped, rebuilds it from the surviving
        postings.  Idempotent; called automatically at append() start.
        """
        import glob as _glob

        import pyarrow.parquet as pq

        meta = IndexMeta.load(self.index_path)
        max_committed = layout.max_doc_bound(meta)
        removed = {"docs": 0, "postings": 0, "stats_rebuilt": False}

        # short-circuit: meta.committed_fence is the max data-file mtime
        # captured at the last commit, on the storage system's own clock
        # — any file strictly older is committed by construction, so its
        # footer/column read is skipped and repair() stays O(files since
        # last commit), not O(index).  Post-commit writes land AT or
        # after the fence (same clock; ties from coarse mtime
        # granularity just fall through to the id check), so crashed
        # artifacts cannot be misclassified even under writer clock skew
        # (ADVICE r3 — the old heuristic compared against the meta
        # file's mtime minus a fixed wall-clock margin).  Metas without
        # a fence (older layout) check every file.
        cutoff = meta.committed_fence

        def _committed(f: str) -> bool:
            if cutoff is None:
                return False
            try:
                return os.path.getmtime(f) < cutoff
            except OSError:
                return False

        docs_dir = os.path.join(self.index_path, DOCS_DIR)
        for f in _glob.glob(os.path.join(docs_dir, "*.parquet")):
            if _committed(f):
                continue
            md = pq.read_metadata(f)
            mins = []
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema == "doc_id" and \
                            col.statistics is not None:
                        mins.append(col.statistics.min)
            if mins and min(mins) > max_committed:
                os.remove(f)
                removed["docs"] += 1

        postings_dir = os.path.join(self.index_path, POSTINGS_DIR)
        for f in _glob.glob(os.path.join(postings_dir, "**", "*.parquet"),
                            recursive=True):
            if _committed(f):
                continue
            tbl = pq.read_table(f, columns=["block_first"])
            # min first doc id across rows (each row is a sorted run,
            # so element 0 of block_first is the row's min id)
            firsts = [x[0] for x in tbl.column("block_first").to_pylist()
                      if x]
            if firsts and min(firsts) > max_committed:
                os.remove(f)
                removed["postings"] += 1

        # orphan segment chunks (append writes chunk=a<N> BEFORE the
        # meta commit): every fragment in them belongs to uncommitted
        # parts, and meta total_tokens is recomputed from segments —
        # leaving them would double-count the retried append's tokens
        max_part = layout.max_part_bound(meta)
        seg_dir = os.path.join(self.index_path, SEGMENTS_DIR)
        removed["segment_chunks"] = 0
        if os.path.exists(seg_dir):
            for chunk in _glob.glob(os.path.join(seg_dir, "chunk=a*")):
                part_mins = []
                for f in _glob.glob(os.path.join(chunk, "*.parquet")):
                    if _committed(f):
                        continue
                    md = pq.read_metadata(f)
                    for rg in range(md.num_row_groups):
                        row_group = md.row_group(rg)
                        for ci in range(row_group.num_columns):
                            c = row_group.column(ci)
                            if c.path_in_schema == "part_id" and \
                                    c.statistics is not None:
                                part_mins.append(c.statistics.min)
                if part_mins and min(part_mins) > max_part:
                    shutil.rmtree(chunk)
                    removed["segment_chunks"] += 1

        if removed["postings"]:
            # the crashed append may have swapped stats already (it
            # swaps before saving meta) — rebuild from live postings
            postings = self.spark.read.parquet(postings_dir)
            stats_dir = os.path.join(self.index_path, STATS_DIR)
            _term_stats(postings).write.mode("overwrite").partitionBy(
                "bucket").parquet(stats_dir + "_new")
            os.rename(stats_dir, stats_dir + "_old")
            os.rename(stats_dir + "_new", stats_dir)
            shutil.rmtree(stats_dir + "_old")
            removed["stats_rebuilt"] = True
        return removed

    # -- incremental ingest ---------------------------------------------------
    def append(self, df: DataFrame, id_col: str | None = None,
               order_cols: list[str] | None = None,
               auto_compact_min_rows: int | None = None) -> IndexMeta:
        """Reference B4+B5 incremental semantics: index more docs, then
        'commit' makes them visible to readers (SearchIndex.reload()).

        Appended docs land in NEW doc-range parts, so their merged
        posting rows are strictly additive — existing posting files are
        never rewritten.  A (term, shard) key may gain extra rows when
        an append lands in a partially-filled shard; rows cover disjoint
        doc ranges, and both scoring paths treat rows independently, so
        this is query-transparent (compaction can fold them later).
        ``auto_compact_min_rows`` is the LogMergePolicy analog (the
        reference background-merges once >= 5 segments accumulate,
        src/index/implements/index_manager.rs:90-92): after the commit,
        if any (col, term, shard) group holds that many rows, run
        ``compact(min_rows_per_group=auto_compact_min_rows)`` inline.
        Stats grow by this append's term dfs and meta totals are
        recomputed (cheap aggregates).
        """
        layout.recover_swaps(self.index_path, drop_stray=True)
        repaired = self.repair()  # drop artifacts of a crashed append
        if repaired["docs"] or repaired["postings"]:
            self._ckpt_write(f"repair{int(time.time())}", repaired)
        meta = IndexMeta.load(self.index_path)
        if getattr(meta, "docs_mode", None) == "view":
            raise ValueError(
                "append() is not supported on a docs_mode='view' index: "
                "doc ids are a pure function of the pinned source "
                "snapshot and the docs table is not owned by the index. "
                "Rebuild over the grown source snapshot (position_ids "
                "builds are cheap — no corpus copy), or build with "
                "docs_mode='copy' if incremental appends are required")
        old_max = max(
            layout.max_doc_bound(meta),
            meta.max_doc_id if meta.max_doc_id is not None else -1)
        base = (old_max // self.rows_per_part + 1) * self.rows_per_part

        append_staged = None
        if id_col is None:
            if self.durable_ids:
                # fixed name, overwrite-per-append; must outlive this
                # call's jobs (the staged read feeds docs + segments)
                presort = os.path.join(self.index_path, "_append_presort")
                df = assign_doc_ids_staged(
                    df, order_cols or self.config.columns, presort,
                    base_id=base)
            else:
                # pin the assigned ids before the two consuming jobs
                # below (docs write, segments write): an unpinned plan
                # recomputes per job, and duplicate sort keys (or any
                # nondeterministic input) could then assign DIFFERENT
                # ids in each — docs and postings silently disagreeing
                append_staged = os.path.join(self.index_path,
                                             "_append_staged")
                assign_doc_ids(df, order_cols or self.config.columns,
                               base_id=base).write.mode(
                    "overwrite").parquet(append_staged)
                df = self.spark.read.parquet(append_staged)
        else:
            if id_col != "doc_id":
                df = df.withColumnRenamed(id_col, "doc_id")
            df = df.withColumn("doc_id", F.col("doc_id") + F.lit(base))
        src = df.withColumn(
            "part_id", (F.col("doc_id") / F.lit(self.rows_per_part)).cast("int"))

        cfg_json = self.config.to_json()
        append_id = len([n for n in os.listdir(
            os.path.join(self.index_path, CHECKPOINTS_DIR))
            if n.startswith("append")]) if os.path.exists(
            os.path.join(self.index_path, CHECKPOINTS_DIR)) else 0
        t0 = time.time()

        # docs rows
        sha_cols = [
            F.sha2(F.coalesce(F.col(c), F.lit("")), 256).alias(f"sha256_{c}")
            for c in self.config.columns
        ]
        keep = [c for c in src.columns if c != "part_id"] if self.config.store_doc \
            else [c for c in src.columns
                  if c not in self.config.columns and c != "part_id"]
        src.select(*keep, *sha_cols).write.mode("append").parquet(
            os.path.join(self.index_path, DOCS_DIR))

        # segments for the new parts, merged rows appended to postings
        seg_chunk = os.path.join(self.index_path, SEGMENTS_DIR,
                                 f"chunk=a{append_id}")
        src.select("part_id", "doc_id", *self.config.columns) \
            .groupBy("part_id").applyInArrow(
                _segment_builder(cfg_json), layout.SEGMENTS_SCHEMA) \
            .write.mode("overwrite").parquet(seg_chunk)
        new_segs = self.spark.read.parquet(seg_chunk)
        # read by the merge's hot-term test and folded into the stats
        chunk_stats = _term_stats(new_segs).cache()
        self._merge_fragments(new_segs, chunk_stats, cfg_json) \
            .write.mode("append").partitionBy("bucket").parquet(
                os.path.join(self.index_path, POSTINGS_DIR))

        # stats: appended postings only add to a term's df, so the new
        # dictionary is the committed one plus this chunk's — no rescan
        # of the full postings table
        stats_dir = os.path.join(self.index_path, STATS_DIR)
        _term_stats(
            self.spark.read.parquet(stats_dir)
            .select(*[f.name for f in layout.STATS_SCHEMA.fields])
            .unionByName(chunk_stats)
        ).write.mode("overwrite").partitionBy("bucket").parquet(
            stats_dir + "_new")
        chunk_stats.unpersist()
        # rename-ordered swap: the readable-dir gap is two renames, not a
        # whole rmtree; a crash in the gap is repaired by
        # layout.recover_swaps on the next open
        os.rename(stats_dir, stats_dir + "_old")
        os.rename(stats_dir + "_new", stats_dir)
        shutil.rmtree(stats_dir + "_old")

        # totals: prior meta + this chunk's token mass.  Additive (not a
        # full chunk=* segments rescan) because compact(purge_deletes)
        # rewrites postings without touching old segment chunks — the
        # prior meta is the exact committed total, segments may not be.
        total_tokens = {c: 0 for c in self.config.columns}
        if meta.total_tokens is None:
            # legacy meta: one-time exact recompute from all chunks
            segs = self.spark.read.parquet(
                os.path.join(self.index_path, SEGMENTS_DIR, "chunk=*"))
            for r in segs.groupBy("col").agg(
                    F.sum("sum_tf").alias("n")).collect():
                total_tokens[r["col"]] = int(r["n"])
        else:
            new_segs = self.spark.read.parquet(seg_chunk)
            for r in new_segs.groupBy("col").agg(
                    F.sum("sum_tf").alias("n")).collect():
                total_tokens[r["col"]] = int(r["n"])
            for c in self.config.columns:
                total_tokens[c] += int(meta.total_tokens.get(c, 0))
        docs_df = self.spark.read.parquet(os.path.join(self.index_path, DOCS_DIR))
        part_ranges = [
            [int(r["part_id"]), int(r["first"]), int(r["last"]), int(r["rows"])]
            for r in docs_df.withColumn(
                "part_id", (F.col("doc_id") / F.lit(self.rows_per_part)).cast("int"))
            .groupBy("part_id").agg(
                F.min("doc_id").alias("first"), F.max("doc_id").alias("last"),
                F.count("*").alias("rows")).collect()
        ]
        total_docs = docs_df.count()
        secs = time.time() - t0
        new_meta = IndexMeta(
            config_json=cfg_json,
            num_parts=len(part_ranges),
            total_docs=total_docs,
            total_tokens=total_tokens,
            part_ranges=sorted(part_ranges),
            build_metrics=meta.build_metrics,
            committed_fence=self._data_fence(),
            max_doc_id=meta.max_doc_id,
        )
        new_meta.save(self.index_path)  # <- the commit point
        if append_staged is not None:
            shutil.rmtree(append_staged, ignore_errors=True)
        # bookkeeping AFTER the commit: a crash before meta.save leaves
        # no append checkpoint, so the retried append reuses the same
        # chunk id (repair() removes the orphan artifacts anyway)
        self._ckpt_write(f"append{append_id}", {
            "secs": secs, "base": base, "total_docs": total_docs,
            "docs_per_sec": (total_docs - (meta.total_docs or 0)) / max(secs, 1e-9),
        })
        if auto_compact_min_rows is not None:
            postings = self.spark.read.parquet(
                os.path.join(self.index_path, POSTINGS_DIR))
            frag = postings.groupBy("col", "term", "shard").count() \
                .where(F.col("count") >= auto_compact_min_rows).limit(1)
            if frag.count():
                self.compact(min_rows_per_group=auto_compact_min_rows)
                return IndexMeta.load(self.index_path)
        return new_meta
