"""One benchmark run: a timed index build, then one serving tier.

Both workloads first build an index over a freshly generated corpus
with ``IndexBuilder.build`` (timed).  Then:

* ``dist-query`` sends first-seen queries (and plan-cache repeats) through
  the distributed tier: ``bm25_search``, ``bm25_search(use_wand=True)``,
  ``bm25_search_batch`` and ``query_term_bitmap`` on a Spark-backed index;
* ``embedded-serve`` stops Spark and serves the same index in process:
  ``bm25_search_local`` (cold and hot classes, exact and WAND),
  ``query_term_bitmap`` on an ``open_local`` reader, then a
  ``SearchPool`` closed loop over the hot stream.

Every timed operation's output is checked against another tier outside
its timed region; a wrong result or an exception counts as failed.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import resource
import time
from contextlib import contextmanager
from itertools import chain, cycle

from perfbench import harness, inputs
from perfbench.spans import Tracer, self_times, span_cost_s

TOP_K = 10
SIZES = {
    "docs": 4096,          # corpus of the timed build
    "parts": 8,            # doc-range parts of the build
    "check_sample": 6,     # docs / queries spot-checked per class
    "dist_warmup_cycles": 1,  # untimed DIST_CYCLEs before the timed window
}
#: the embedded tier's single-client calls, in the order they repeat;
#: each round of them is followed by one SearchPool batch of
#: POOL_BATCH_PER_PROCESS hot queries per worker
LOCAL_CYCLE = ["cold", "hot", "wand", "bitmap"]
POOL_BATCH_PER_PROCESS = 16


def _cfg():
    from tantivy_search_spark import IndexConfig

    cfg = IndexConfig.from_json(["content"], "{}")
    # 8 term-hash buckets instead of 64: at a few thousand docs each
    # bucket directory would otherwise hold a few KB per file
    cfg.n_buckets = 8
    return cfg


def _rows(df_rows) -> list[tuple[int, float]]:
    return [(int(r["row_id"]), float(r["score"])) for r in df_rows]


def latency_summary(xs: list[float]) -> dict:
    """Sample count, median and every percentile (50, 90, 99, nearest
    rank) with at least ten samples beyond it, in milliseconds."""
    xs = sorted(xs)
    n = len(xs)
    out: dict = {"n": n}
    if n:
        out["median"] = 1e3 * (xs[(n - 1) // 2] + xs[n // 2]) / 2
    for q in (50, 90, 99):
        rank = math.ceil(q * n / 100)
        if n - rank >= 10:
            out[f"p{q}"] = 1e3 * xs[rank - 1]
    return out


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


class Session:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, nproc: int, t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.nproc = nproc
        self.t_start = t_start
        self.tr = Tracer(trace)
        self.ledger = harness.Ledger()
        self.gen = inputs.QueryGen(seed)
        self.rng = random.Random(inputs.sub_seed(seed, "session"))
        self.samples: dict[str, list[float]] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict = {"workload": workload, "seed": seed,
                             "sizes": SIZES, "nproc": nproc,
                             "traced": trace}
        self.setup_s = 0.0
        self.spark = None
        self.jobs = None
        self._n_op = 0

    # ------------------------------------------------------------ helpers
    def _sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def _timed(self, kind: str, fn, check=None, route: str | None = None):
        """One timed operation: its wall time is kept only if it raised
        nothing and ``check(result)`` holds; either failure is counted."""
        self.ledger.attempt()
        self._n_op += 1
        self.tr.request_id = f"{kind}-{self._n_op}"
        group = self.jobs.tag(route) if (route and self.jobs) else None
        t0 = time.perf_counter()
        try:
            with self.tr.span("op." + kind, kind=kind):
                out = fn()
        except Exception as e:  # noqa: BLE001 - counted, run continues
            self.ledger.fail(f"{kind}: {type(e).__name__}: {e}")
            return None, None
        finally:
            self.tr.request_id = None
        dt = time.perf_counter() - t0
        if group:
            self.jobs.record(route, group)
        if check is not None:
            try:
                ok, why = check(out), "wrong result"
            except Exception as e:  # noqa: BLE001 - a failed check
                ok, why = False, f"check raised {type(e).__name__}: {e}"
            if not ok:
                self.ledger.fail(f"{kind} #{self._n_op}: {why}")
                return out, None
        return out, dt

    def _mark(self, phase: str) -> None:
        """Seconds since process start at the end of each phase."""
        self.report.setdefault("phase_end_s", {})[phase] = round(
            time.perf_counter() - self.t_start, 2)

    def _setup_segment(self, t0: float) -> None:
        self.setup_s += time.perf_counter() - t0

    @contextmanager
    def _untraced(self):
        traced = self.tr.enabled
        self.tr.enabled = self.jobs.enabled = False
        try:
            yield
        finally:
            self.tr.enabled = self.jobs.enabled = traced

    # -------------------------------------------------------------- run
    def run(self) -> None:
        self.report["host_start"] = harness.host_calibration()
        t0 = self.t_start
        try:
            self.spark = harness.start_spark(self.work, self.nproc)
            self.jobs = harness.JobCounter(self.spark, self.tr.enabled)
            self._mark("spark")
            self._make_corpus()
            self._setup_segment(t0)
            self._mark("corpus")
            self._build()
            self._mark("build")
            if self.workload == "dist-query":
                self._dist_query()
            else:
                self._embedded_serve()
            self._mark(self.workload)
        finally:
            self.tr.restore()
            if self.spark is not None:
                harness.stop_spark(self.spark)
                self.spark = None
        self.report["host_end"] = harness.host_calibration()
        self._finish()

    # ------------------------------------------------------------ inputs
    def _make_corpus(self) -> None:
        from tantivy_search_spark.codecorpus import synth_code_corpus

        self.corpus_dir = os.path.join(self.work, "corpus")
        self.idx = os.path.join(self.work, "index")
        synth_code_corpus(
            self.spark, SIZES["docs"],
            seed=inputs.sub_seed(self.seed, "corpus"),
            num_partitions=self.nproc, with_doc_id=True, **inputs.CORPUS,
        ).write.parquet(self.corpus_dir)
        self.input_bytes = _parquet_bytes(self.corpus_dir)

    def _read_corpus(self, ids=None):
        import pyarrow.dataset as ds

        d = ds.dataset(self.corpus_dir)
        flt = None if ids is None else ds.field("doc_id").isin(list(ids))
        return d.to_table(filter=flt, columns=["doc_id", "content"]
                          ).to_pandas()

    # ------------------------------------------------------------- build
    def _build(self) -> None:
        from tantivy_search_spark import IndexBuilder, SearchIndex

        spark, tr = self.spark, self.tr
        n = SIZES["docs"]
        builder = IndexBuilder(spark, self.idx, _cfg(),
                               rows_per_part=n // SIZES["parts"])

        def build():
            with tr.span("index.builder.build"):
                return builder.build(spark.read.parquet(self.corpus_dir),
                                     id_col="doc_id")

        meta, dt = self._timed("build", build,
                               check=lambda m: m.total_docs == n,
                               route="build")
        if meta is None:
            raise RuntimeError("build failed: " + "; ".join(
                self.ledger.failures))
        if dt is not None:
            self.e2e["build_docs_per_s"] = n / dt
        self.layer.update(self._build_layers(meta.build_metrics, dt or 0.0))
        self.e2e["index_bytes_per_input_byte"] = (
            harness.dir_bytes(self.idx) / self.input_bytes)

        t0 = time.perf_counter()
        self.ix = SearchIndex(spark, self.idx)
        self.ix.enable_stats_cache()
        self._setup_segment(t0)
        self.ledger.attempt()
        self.ledger.check(self.ix.get_indexed_doc_counts() == n,
                          "indexed doc count after build")
        self._check_docs(self.ix, n)

    def _check_docs(self, ix, n: int) -> None:
        """The docs table's content hashes against the generated source
        for a seeded sample of docs (untimed)."""
        from pyspark.sql import functions as F

        ids = self.rng.sample(range(n), SIZES["check_sample"])
        src = self._read_corpus(ids)
        want = dict(zip(src["doc_id"].astype(int), src["content"]))
        # content is indexed, not stored: the docs table keeps its sha256
        got = ix.docs.where(F.col("doc_id").isin(ids)).select(
            "doc_id", "sha256_content").collect()
        self.ledger.attempt()
        ok = len(got) == len(ids) and all(
            r["sha256_content"] == hashlib.sha256(
                want[int(r["doc_id"])].encode("utf-8")).hexdigest()
            for r in got)
        self.ledger.check(ok, "docs table sha256 spot-check")

    def _build_layers(self, bm: dict, wall: float) -> dict:
        st = bm.get("stages", {})
        out = {f"index.builder.{k}_s": float(st.get(k, {}).get("secs", 0.0))
               for k in ("staged", "docs", "segments", "merge", "stats")}
        out["index.builder.commit_s"] = max(0.0, wall - sum(out.values()))
        lineage = [x for c in st.get("segments", {}).get("chunks", [])
                   for x in c.get("lineage", [])]
        out["index.builder.terms"] = float(sum(x["terms"] for x in lineage))
        out["index.builder.postings"] = float(
            sum(x["postings"] for x in lineage))
        for sub in ("postings", "docs", "stats"):
            out[f"index.layout.{sub}_bytes"] = float(
                harness.dir_bytes(os.path.join(self.idx, sub)))
        return out

    # ------------------------------------------------------- dist-query
    def _dist_query(self) -> None:
        from tantivy_search_spark import SearchIndex
        from tantivy_search_spark.bitmap import u8_bitmap_to_row_ids

        ix, tr, gen = self.ix, self.tr, self.gen
        checker = SearchIndex.open_local(self.idx)
        plan_ids: dict[tuple, int] = {}
        reuse = [0, 0]  # calls returning an earlier call's DataFrame, calls

        def local(q):
            return checker.bm25_search_local(q.sentence, top_k=TOP_K,
                                             operator_or=q.op_or)

        def search(q, wand=False):
            name = "wand_" if wand else ""
            with tr.span(f"search.engine.{name}plan"):
                df = ix.bm25_search(q.sentence, top_k=TOP_K,
                                    operator_or=q.op_or, use_wand=wand)
            key = (q.sentence, q.op_or, wand)
            reuse[1] += 1
            reuse[0] += plan_ids.get(key) == id(df)
            plan_ids.setdefault(key, id(df))
            with tr.span(f"search.engine.{name}execute"):
                return _rows(df.collect())

        def batch(qs):
            with tr.span("search.engine.batch_plan"):
                df = ix.bm25_search_batch(
                    [(q.sentence, q.op_or) for q in qs], top_k=TOP_K)
            with tr.span("search.engine.batch_execute"):
                rows = df.collect()
            out = {i: [] for i in range(len(qs))}
            for r in rows:
                out.setdefault(int(r["query_id"]), []).append(
                    (int(r["row_id"]), float(r["score"])))
            return out

        def bitmap(term):
            with tr.span("search.engine.bitmap"):
                return ix.query_term_bitmap("content", term)

        def run_one(kind: str, payload, timed: bool):
            if kind in ("exact", "wand", "repeat"):
                q = payload
                out, dt = self._timed(
                    kind, lambda: search(q, kind == "wand"),
                    check=lambda r: harness.same_topk(r, local(q)),
                    route=kind)
            elif kind == "batch":
                qs = payload
                out, dt = self._timed(
                    kind, lambda: batch(qs),
                    check=lambda r: all(harness.same_topk(r[i], local(q))
                                        for i, q in enumerate(qs)),
                    route=kind)
                if timed and dt is not None:
                    self._sample("batch_queries", len(qs))
            else:
                term = payload
                out, dt = self._timed(
                    kind, lambda: bitmap(term),
                    check=lambda b: set(u8_bitmap_to_row_ids(b).tolist())
                    == set(u8_bitmap_to_row_ids(checker.query_term_bitmap(
                        "content", term)).tolist()),
                    route=kind)
            if timed and dt is not None:
                self._sample(kind, dt)

        # warm-up (set-up, untraced): one call of every kind compiles the
        # plan shapes the timed stream uses, then whole cycles of the
        # stream itself pay the JVM's first-call costs before timing (the
        # first few first-seen calls after one call of each kind still
        # take up to 1.5x as long); its queries are first-seen
        stream = inputs.dist_stream(gen, self.rng)
        warmup = inputs.dist_warmup(gen) + [
            next(stream) for _ in range(
                SIZES["dist_warmup_cycles"] * len(inputs.DIST_CYCLE))]
        t0 = time.perf_counter()
        with self._untraced():
            for kind, payload in warmup:
                run_one(kind, payload, timed=False)
        self._setup_segment(t0)
        self._mark("dist_warmup")
        self.gen.counts.clear()
        self._trace_layers(decode=False)

        deadline = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < deadline or i < len(inputs.DIST_CYCLE):
            run_one(*next(stream), timed=True)
            i += 1
        checker.close()

        s = self.samples
        self._latency_metrics("exact", "repeat", "wand", "bitmap")
        self.e2e["qps"] = (sum(s.get("batch_queries", []))
                           / sum(s.get("batch", [float("inf")])))
        self.layer["search.engine.plan_reuse_ratio"] = reuse[0] / reuse[1]
        self.report["query_classes"] = dict(self.gen.counts)
        self.report["stream_ops"] = i
        self.report["repeat_share"] = inputs.REPEAT_SHARE

    # --------------------------------------------------- embedded-serve
    def _embedded_serve(self) -> None:
        from tantivy_search_spark import SearchIndex
        from tantivy_search_spark.bitmap import u8_bitmap_to_row_ids
        from tantivy_search_spark.search.pool import SearchPool

        ix, tr, gen = self.ix, self.tr, self.gen
        k = SIZES["check_sample"]
        _, hot = gen.hot_set()
        cold = [gen.cold() for _ in range(k)]
        wand = [gen.cold() for _ in range(k)]
        bitmap_terms = [gen.first_seen_term() for _ in range(2)]

        # expected rows for a sample of every class, from the distributed
        # tier, before Spark stops (untimed)
        t0 = time.perf_counter()
        sample = hot + cold + wand
        got = ix.bm25_search_batch([(q.sentence, q.op_or) for q in sample],
                                   top_k=TOP_K).collect()
        by_q: dict[int, list] = {i: [] for i in range(len(sample))}
        for r in got:
            by_q[int(r["query_id"])].append(
                (int(r["row_id"]), float(r["score"])))
        expected = {(q.sentence, q.op_or): by_q[i]
                    for i, q in enumerate(sample)}
        expected_bitmaps = {
            t: set(u8_bitmap_to_row_ids(
                ix.query_term_bitmap("content", t)).tolist())
            for t in bitmap_terms}
        check_s = time.perf_counter() - t0
        self._mark("expected_rows")
        harness.stop_spark(self.spark)
        self.spark = None
        self._mark("spark_stop")

        t0 = time.perf_counter()
        with tr.span("search.engine.open_local"):
            lix = SearchIndex.open_local(self.idx)
        for q in hot:  # warm the hot set's postings and scores
            lix.bm25_search_local(q.sentence, top_k=TOP_K,
                                  operator_or=q.op_or)
        self._setup_segment(t0)
        self._mark("local_warm")
        self.report["expected_rows_s"] = check_s

        def check_local(q, rows, use_wand):
            # the sampled cold/WAND queries and every hot query have rows
            # from the distributed tier; the rest are checked against the
            # other local route (WAND against exact, exact against WAND)
            want = expected.get((q.sentence, q.op_or))
            if want is None:
                want = lix.bm25_search_local(q.sentence, top_k=TOP_K,
                                             operator_or=q.op_or,
                                             use_wand=not use_wand)
            return harness.same_topk(rows, want)

        def check_bitmap(term, bm):
            ids = set(u8_bitmap_to_row_ids(bm).tolist())
            if term in expected_bitmaps:
                return ids == expected_bitmaps[term]
            hits = lix.bm25_search_local(term, top_k=1 << 20,
                                         operator_or=True)
            return ids == {d for d, _ in hits}

        # the serving pool (set-up): forked now, before any wrapper is
        # installed, and warmed with one pass of the hot set per worker
        t0 = time.perf_counter()
        with tr.span("search.pool.startup"):
            pool = SearchPool(self.idx, processes=self.nproc,
                              warm_queries=[q.sentence for q in hot],
                              top_k=TOP_K)
        try:
            items = [(q.sentence, {"operator_or": q.op_or}) for q in hot]
            pool.search_batch(items * self.nproc)
            startup = time.perf_counter() - t0
            self.setup_s += startup
            self.layer["search.pool.startup_s"] = startup
            self._mark("pool_start")
            self._trace_layers()
            self._serve_window(lix, pool, items, hot, cold, wand,
                               bitmap_terms, check_local, check_bitmap,
                               expected)
        finally:
            self.tr.restore()
            pool.close()
            lix.close()
        self._mark("serve")

        s = self.samples
        self._latency_metrics("cold", "hot", "wand", "bitmap")
        self.report["latency_ms"]["pool_batch"] = latency_summary(
            s.get("pool", []))
        self.e2e["qps"] = harness.median_or_nan(s.get("pool_qps", []))
        self.layer["search.pool.qps_per_process"] = self.e2e["qps"] / \
            self.nproc
        self.report["query_classes"] = {
            "hot_set_terms": inputs.HOT_SET_TERMS,
            "local_ops": {k2: len(v) for k2, v in s.items()
                          if k2 in LOCAL_CYCLE}}

    def _serve_window(self, lix, pool, items, hot, cold, wand, bitmap_terms,
                      check_local, check_bitmap, expected) -> None:
        """The timed window of ``embedded-serve``: single-client local
        calls (one ``LOCAL_CYCLE`` at a time) alternate with one pool
        batch, so a burst of host contention lands on every metric in
        proportion instead of on one phase."""
        tr, gen = self.tr, self.gen

        def local(q, use_wand=False):
            with tr.span("search.engine.local"):
                return lix.bm25_search_local(q.sentence, top_k=TOP_K,
                                             operator_or=q.op_or,
                                             use_wand=use_wand)

        def bitmap(term):
            with tr.span("search.engine.bitmap"):
                return lix.query_term_bitmap("content", term)

        def serve(chunk):
            with tr.span("search.pool.search_batch"):
                return pool.search_batch(chunk)

        # the sampled queries go first, then new ones drawn as needed
        queues = {"cold": chain(cold, iter(gen.cold, None)),
                  "wand": chain(wand, iter(gen.cold, None)),
                  "bitmap": chain(bitmap_terms,
                                  iter(gen.first_seen_term, None))}
        per_batch = POOL_BATCH_PER_PROCESS * self.nproc
        stream = cycle(items)
        deadline = time.perf_counter() + self.seconds
        n = 0
        while time.perf_counter() < deadline or n == 0:
            for kind in LOCAL_CYCLE:
                if kind == "bitmap":
                    term = next(queues["bitmap"])
                    _, dt = self._timed(
                        kind, lambda t=term: bitmap(t),
                        check=lambda b, t=term: check_bitmap(t, b))
                else:
                    q = hot[n % len(hot)] if kind == "hot" \
                        else next(queues[kind])
                    w = kind == "wand"
                    _, dt = self._timed(
                        kind, lambda q=q, w=w: local(q, w),
                        check=lambda r, q=q, w=w: check_local(q, r, w))
                if dt is not None:
                    self._sample(kind, dt)
            chunk = [next(stream) for _ in range(per_batch)]
            _, dt = self._timed(
                "pool", lambda c=chunk: serve(c),
                check=lambda res, c=chunk: all(
                    harness.same_topk(r, expected[(s, o["operator_or"])])
                    for (s, o), r in zip(c, res)))
            if dt is not None:
                self._sample("pool", dt)
                self._sample("pool_qps", per_batch / dt)
            n += 1

    def _latency_metrics(self, first_seen, repeat, wand, bitmap) -> None:
        for metric, kind in (("first_seen_median_ms", first_seen),
                             ("repeat_median_ms", repeat),
                             ("wand_median_ms", wand),
                             ("bitmap_median_ms", bitmap)):
            summary = latency_summary(self.samples.get(kind, []))
            self.report.setdefault("latency_ms", {})[kind] = summary
            self.e2e[metric] = summary.get("median", float("nan"))

    def _trace_layers(self, decode: bool = True) -> None:
        """Wrap the driver-side layers a query calls into: parsing, the
        stats lookup and, for the embedded tier, decode and scoring."""
        from tantivy_search_spark import bm25
        from tantivy_search_spark.index import layout
        from tantivy_search_spark.search import querytree
        from tantivy_search_spark.search.engine import SearchIndex

        tr = self.tr
        if decode:
            tr.wrap(layout, "decode_blocks", "index.layout.decode",
                    count=lambda r: len(r[0]))
            tr.wrap(layout, "decode_doc_ids", "index.layout.decode",
                    count=len)
            tr.wrap(bm25, "doc_norm", "bm25.score")
            tr.wrap(bm25, "term_score", "bm25.score")
        tr.wrap(querytree, "parse_nlq", "search.querytree.parse")
        tr.wrap(querytree, "standard_query_tree", "search.querytree.parse")
        tr.wrap(SearchIndex, "local_statistics", "search.engine.stats")

    # ------------------------------------------------------------ output
    def _finish(self) -> None:
        s = self.samples
        self.e2e["setup_s"] = self.setup_s
        self.e2e["ok_ratio"] = 1.0 - len(self.ledger.failures) / max(
            1, self.ledger.attempted)
        self.e2e["driver_peak_rss_mb"] = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.report["samples"] = {k: len(v) for k, v in s.items()}
        self.report["failures"] = self.ledger.failures[:20]
        if self.tr.enabled:
            # end-to-end figures of a traced run, for the tracing overhead
            # against an untraced run of the same seed; never printed as
            # metrics
            self.report["e2e_traced"] = dict(self.e2e)
            self.layer.update(self._span_layers())
            self.layer["tokenizers.analyze_mb_per_s"] = self._analyze_rate()

    def _analyze_rate(self) -> float:
        """The index analyzer run in the driver over a fixed doc sample."""
        from tantivy_search_spark.tokenizers import analyzer_from_config

        analyze = analyzer_from_config(_cfg().tokenizer_config("content"))
        docs = list(self._read_corpus()["content"][:400])
        t0 = time.perf_counter()
        for d in docs:
            analyze(d)
        dt = time.perf_counter() - t0
        return sum(len(d.encode("utf-8")) for d in docs) / 1e6 / dt

    def _span_layers(self) -> dict:
        """Per-layer metrics from the recorded spans (traced run only)."""
        spans = self.tr.spans
        selfs = self_times(spans)
        out = {"search.engine.plan_reuse_ratio": self.layer.get(
            "search.engine.plan_reuse_ratio", 0.0)}

        # per timed op, the self time (and calls, and counted items) of
        # each layer span under it
        children: dict[int, list[int]] = {}
        for i, sp in enumerate(spans):
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(i)
        per_kind: dict[str, list[dict]] = {}
        for i, sp in enumerate(spans):
            if not sp["name"].startswith("op."):
                continue
            acc: dict[str, float] = {}
            stack = list(children.get(i, []))
            while stack:
                j = stack.pop()
                nm = spans[j]["name"]
                acc[nm] = acc.get(nm, 0.0) + selfs[j]
                acc["calls:" + nm] = acc.get("calls:" + nm, 0) + 1
                acc["n:" + nm] = acc.get("n:" + nm, 0) + spans[j].get("n", 0)
                stack.extend(children.get(j, []))
            per_kind.setdefault(sp["kind"], []).append(acc)

        def mean(kind, key):
            rows = per_kind.get(kind, [])
            return sum(r.get(key, 0.0) for r in rows) / len(rows) \
                if rows else 0.0

        for kind, name, key in [
                ("exact", "plan", "plan_s"), ("exact", "execute", "execute_s"),
                ("repeat", "plan", "repeat_plan_s"),
                ("repeat", "execute", "repeat_execute_s"),
                ("wand", "wand_plan", "wand_plan_s"),
                ("wand", "wand_execute", "wand_execute_s"),
                ("batch", "batch_plan", "batch_plan_s"),
                ("batch", "batch_execute", "batch_execute_s"),
                ("bitmap", "bitmap", "bitmap_s")]:
            out[f"search.engine.{key}"] = mean(kind, "search.engine." + name)
        for cls in ("hot", "cold"):
            dec = "index.layout.decode"
            out[f"index.layout.decode_s.{cls}"] = mean(cls, dec)
            out[f"index.layout.decode_calls_per_query.{cls}"] = mean(
                cls, "calls:" + dec)
            out[f"index.layout.decoded_postings_per_query.{cls}"] = mean(
                cls, "n:" + dec)
            out[f"bm25.score_s.{cls}"] = mean(cls, "bm25.score")
            out[f"search.engine.local_self_s.{cls}"] = mean(
                cls, "search.engine.local")
            rows = per_kind.get(cls, [])
            out[f"search.engine.local_decode_hit_ratio.{cls}"] = (
                sum(not r.get("calls:" + dec) for r in rows) / len(rows)
                if rows else 0.0)
        for kind in ("hot", "cold", "exact"):
            out[f"search.querytree.parse_s.{kind}"] = mean(
                kind, "search.querytree.parse")
            out[f"search.engine.stats_s.{kind}"] = mean(
                kind, "search.engine.stats")

        # spark: jobs, stages and tasks per call of each route
        for route in ("build", "exact", "repeat", "wand", "batch", "bitmap"):
            for key in ("jobs", "stages", "tasks"):
                out[f"spark.{route}.{key}"] = self.jobs.mean(route, key) \
                    if self.jobs else 0.0
        out["spark.build.failed_tasks"] = self.jobs.mean(
            "build", "failed_tasks") if self.jobs else 0.0

        # coverage: layer self time over the wall time of the timed ops
        roots = [i for i, sp in enumerate(spans) if sp["name"].startswith(
            "op.")]
        wall = sum(spans[i]["end"] - spans[i]["start"] for i in roots)
        glue = sum(selfs[i] for i in roots)
        out["trace.layer_coverage"] = 1.0 - glue / wall if wall else 0.0
        out["trace.spans"] = float(len(spans))
        out["trace.overhead_s"] = len(spans) * span_cost_s()
        return out
