"""Self-test of the benchmark.

    python3 -m pytest perfbench -q

The smoke runs start Spark four times (about four minutes on a 4-core
host); the other tests take well under a second.
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, metrics  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.session import latency_summary  # noqa: E402
from perfbench.spans import Tracer, self_times  # noqa: E402


def _take(it, n):
    return [next(it) for _ in range(n)]


def _sig(op):
    kind, payload = op
    if isinstance(payload, list):
        return kind, tuple((q.sentence, q.op_or) for q in payload)
    if isinstance(payload, inputs.Query):
        return kind, payload.sentence, payload.op_or
    return kind, payload


def test_generator_is_deterministic_per_seed():
    def stream(seed):
        gen = inputs.QueryGen(seed)
        warm = [_sig(op) for op in inputs.dist_warmup(gen)]
        ops = _take(inputs.dist_stream(gen, random.Random(seed)), 60)
        _, hot = inputs.QueryGen(seed).hot_set()
        return warm, [_sig(op) for op in ops], [q.sentence for q in hot]

    assert stream(7) == stream(7)
    assert stream(7) != stream(8)
    assert inputs.sub_seed(7, "corpus") == inputs.sub_seed(7, "corpus")
    assert inputs.sub_seed(7, "corpus") != inputs.sub_seed(7, "queries")


def test_dist_stream_is_first_seen_except_stated_repeats():
    gen = inputs.QueryGen(3)
    seen = set()
    for _, payload in inputs.dist_warmup(gen):
        for q in payload if isinstance(payload, list) else [payload]:
            seen.add(q.sentence if isinstance(q, inputs.Query) else q)
    exact = set()
    ops = _take(inputs.dist_stream(gen, random.Random(3)),
                20 * len(inputs.DIST_CYCLE))
    repeats = 0
    for kind, payload in ops:
        if kind == "repeat":
            repeats += 1
            assert (payload.sentence, payload.op_or) in exact
            continue
        items = payload if isinstance(payload, list) else [payload]
        for q in items:
            key = q.sentence if isinstance(q, inputs.Query) else q
            assert key not in seen, (kind, key)
            seen.add(key)
            if kind == "exact":
                exact.add((q.sentence, q.op_or))
    assert repeats / len(ops) == pytest.approx(inputs.REPEAT_SHARE)
    assert 0.2 <= inputs.REPEAT_SHARE <= 0.3


def test_dist_stream_times_the_same_shape_mix_for_every_seed():
    def shapes(seed):
        ops = _take(inputs.dist_stream(inputs.QueryGen(seed),
                                       random.Random(seed)),
                    4 * len(inputs.DIST_CYCLE))
        out = []
        for kind, payload in ops:
            if kind in ("exact", "wand"):
                out.append((kind, payload.op_or))
            elif kind == "bitmap":
                out.append((kind, int(payload[1:]) < len(inputs.MID)))
        return out

    assert shapes(1) == shapes(2) == shapes(3)
    assert [s for k, s in shapes(1) if k == "bitmap"][:4] == [
        True, False, True, False]


def test_cold_queries_carry_a_new_tail_identifier():
    gen = inputs.QueryGen(5)
    terms, hot = gen.hot_set()
    assert len(set(terms)) <= 50
    tails = [gen.cold().sentence.split()[-1] for _ in range(500)]
    assert len(set(tails)) == len(tails)
    assert not set(tails) & set(terms)


def test_percentile_rule():
    # a percentile is reported only with at least ten samples beyond it
    for n in (1, 5, 19, 20, 99, 100, 250):
        s = latency_summary([float(i) for i in range(n)])
        assert s["n"] == n
        for key in s:
            if key.startswith("p"):
                q = int(key[1:]) / 100
                assert n - math.ceil(q * n) >= 10, (n, key)
        assert ("p90" in s) == (n >= 100)


def test_self_times_subtract_children():
    t = Tracer(True)
    with t.span("a"):
        with t.span("b"):
            pass
        with t.span("c"):
            pass
    s = self_times(t.spans)
    dur = [x["end"] - x["start"] for x in t.spans]
    assert s[0] == pytest.approx(dur[0] - dur[1] - dur[2], abs=1e-9)
    assert s[1] == pytest.approx(dur[1])
    assert Tracer(False).spans == []


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["end_to_end"]} == metrics.E2E
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["per_layer"]} == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "99", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = metrics.PER_LAYER if trace else metrics.E2E
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        k: u for k, (u, _) in want.items()}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
