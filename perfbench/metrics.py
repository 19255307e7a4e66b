"""Names, units and directions of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same metrics with
their bounds; ``test_perfbench.py`` checks that the two agree.
"""

from __future__ import annotations

#: end-to-end metrics, printed by every untraced run of either workload:
#: name -> (unit, better)
E2E = {
    "setup_s": ("s", "lower"),
    "build_docs_per_s": ("docs/s", "higher"),
    "index_bytes_per_input_byte": ("ratio", "lower"),
    "first_seen_median_ms": ("ms", "lower"),
    "repeat_median_ms": ("ms", "lower"),
    "wand_median_ms": ("ms", "lower"),
    "bitmap_median_ms": ("ms", "lower"),
    "qps": ("q/s", "higher"),
    "ok_ratio": ("ratio", "higher"),
    "driver_peak_rss_mb": ("MB", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {}

    def add(names, unit, better="lower"):
        for n in names:
            m[n] = (unit, better)

    add([f"index.builder.{k}_s" for k in (
        "staged", "docs", "segments", "merge", "stats", "commit")], "s")
    add(["index.builder.terms", "index.builder.postings"], "count")
    add([f"index.layout.{k}_bytes" for k in ("postings", "docs", "stats")],
        "bytes")
    for cls in ("hot", "cold"):
        add([f"index.layout.decode_s.{cls}", f"bm25.score_s.{cls}",
             f"search.engine.local_self_s.{cls}"], "s")
        add([f"index.layout.decode_calls_per_query.{cls}",
             f"index.layout.decoded_postings_per_query.{cls}"], "count")
        add([f"search.engine.local_decode_hit_ratio.{cls}"], "ratio",
            "higher")
    for kind in ("hot", "cold", "exact"):
        add([f"search.querytree.parse_s.{kind}",
             f"search.engine.stats_s.{kind}"], "s")
    add([f"search.engine.{k}" for k in (
        "plan_s", "execute_s", "repeat_plan_s", "repeat_execute_s",
        "wand_plan_s", "wand_execute_s", "batch_plan_s", "batch_execute_s",
        "bitmap_s")], "s")
    add(["search.engine.plan_reuse_ratio"], "ratio", "higher")
    for route in ("build", "exact", "repeat", "wand", "batch", "bitmap"):
        add([f"spark.{route}.{k}" for k in ("jobs", "stages", "tasks")],
            "count")
    add(["spark.build.failed_tasks"], "count")
    add(["search.pool.startup_s"], "s")
    add(["search.pool.qps_per_process"], "q/s", "higher")
    add(["tokenizers.analyze_mb_per_s"], "MB/s", "higher")
    add(["host.mem_copy_gbps_start", "host.mem_copy_gbps_end"], "GB/s",
        "higher")
    add(["host.loadavg_1m_start", "host.loadavg_1m_end"], "load")
    add(["trace.spans"], "count")
    add(["trace.overhead_s"], "s")
    add(["trace.layer_coverage"], "ratio", "higher")
    return m


#: per-layer metrics, printed by every traced run: name -> (unit, better)
PER_LAYER = _per_layer()
