"""Seeded inputs: corpus parameters and query streams.

Everything the engine receives is generated here from ``--seed``; the
same seed gives the same corpus and the same query streams.  The corpus
itself is ``codecorpus.synth_code_corpus`` (schema ``repo, path, commit,
lang, content``); this module only derives its seeds and sizes, and
builds the query sentences over its vocabulary:

* ``hot``  - keywords from the corpus' weighted keyword pool;
* ``mid``  - identifiers ``v0``..``v999`` (frequent under the corpus'
  zipf-like identifier draw);
* ``tail`` - identifiers ``v20000``..``v199999`` (rare; many occur in
  one or two documents, some in none).

A query's class is the class of its rarest term.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass, field

HOT = ["if", "return", "def", "for", "self", "import", "in", "None",
       "else", "class", "data", "value", "result", "not", "and", "or",
       "True", "False", "len", "range"]
MID = [f"v{i}" for i in range(1000)]
TAIL_RANGE = (20_000, 200_000)

#: corpus shape shared by every build of the benchmark
CORPUS = {"ident_frac": 0.35, "ident_vocab": 200_000, "max_tokens": 400}

#: size of the hot term set of the embedded tier; far under the local
#: tier's 4,096-term decoded-postings cache
HOT_SET_TERMS = 40

#: the distributed tier's call mix, repeated in this order; about a
#: quarter of the calls are exact repeats of an earlier exact query
DIST_CYCLE = ("exact", "repeat", "wand", "bitmap") * 3 + ("batch",)
REPEAT_SHARE = DIST_CYCLE.count("repeat") / len(DIST_CYCLE)
#: the (class, operator_or) shapes that first-seen exact and WAND queries
#: of the distributed stream take in turn, so that every seed times the
#: same mix of shapes; bitmap terms alternate mid and tail the same way
DIST_SHAPES = (("hot", False), ("mid", True), ("tail", False),
               ("hot", True), ("mid", False), ("tail", True))
#: queries per bm25_search_batch call
BATCH_SIZE = 8


def sub_seed(seed: int, what: str) -> int:
    """Stable per-purpose seed (the corpus, the query streams, ...)."""
    return random.Random(f"{seed}:{what}").randrange(1, 2**31)


@dataclass
class Query:
    sentence: str
    op_or: bool


@dataclass
class QueryGen:
    """Draws queries whose sentences are new to the process.

    Every sentence handed out is remembered; ``first_seen`` never returns
    a sentence seen before, whatever kind of call it is for.  Mid and
    tail identifiers are drawn without replacement, so each query of
    those classes also carries a term no earlier query used."""

    seed: int
    seen: set = field(default_factory=set)
    counts: dict = field(default_factory=dict)

    def __post_init__(self):
        self.rng = random.Random(sub_seed(self.seed, "queries"))
        self._mid = MID[:]
        self.rng.shuffle(self._mid)
        self._tail = self.rng.sample(range(*TAIL_RANGE), 20_000)

    def mid(self) -> str:
        return self._mid.pop()

    def tail(self) -> str:
        return f"v{self._tail.pop()}"

    def hot(self, k: int) -> list[str]:
        return self.rng.sample(HOT, k)

    def _terms(self, cls: str) -> list[str]:
        if cls == "hot":
            return self.hot(self.rng.choice((2, 3)))
        if cls == "mid":
            return self.hot(self.rng.choice((1, 2))) + [self.mid()]
        return self.hot(1) + ([self.mid()] if self.rng.random() < 0.5
                              else []) + [self.tail()]

    def first_seen(self, cls: str | None = None,
                   op_or: bool | None = None) -> Query:
        cls = cls or self.rng.choice(("hot", "mid", "tail"))
        if op_or is None:
            op_or = self.rng.random() < 0.5
        while True:
            terms = self._terms(cls)
            self.rng.shuffle(terms)
            sentence = " ".join(terms)
            if sentence not in self.seen:
                break
        self.seen.add(sentence)
        key = f"{cls}.{'or' if op_or else 'and'}"
        self.counts[key] = self.counts.get(key, 0) + 1
        return Query(sentence, op_or)

    def first_seen_term(self, cls: str | None = None) -> str:
        """One new term for a bitmap lookup (mid or tail class; drawn at
        random unless ``cls`` names one)."""
        if cls is None:
            cls = "mid" if self.rng.random() < 0.5 else "tail"
        while True:
            t = self.mid() if cls == "mid" and self._mid else self.tail()
            if t not in self.seen:
                self.seen.add(t)
                return t

    def hot_set(self) -> tuple[list[str], list[Query]]:
        """The embedded tier's hot set: ``HOT_SET_TERMS`` terms and one
        query per term pair drawn from them (all warmed before timing)."""
        terms = HOT[:12] + [self.mid() for _ in range(HOT_SET_TERMS - 12)]
        queries = []
        for i in range(HOT_SET_TERMS):
            pick = [terms[i], terms[(i * 7 + 3) % HOT_SET_TERMS]]
            if i % 3 == 0:
                pick.append(terms[(i * 11 + 5) % HOT_SET_TERMS])
            sentence = " ".join(dict.fromkeys(pick))
            self.seen.add(sentence)
            queries.append(Query(sentence, i % 2 == 0))
        return terms, queries

    def cold(self) -> Query:
        """An embedded-tier query with a tail identifier never queried
        before in the run, next to one or two hot-set keywords."""
        sentence = " ".join(self.hot(self.rng.choice((1, 2)))
                            + [self.tail()])
        self.seen.add(sentence)
        return Query(sentence, self.rng.random() < 0.5)


def dist_warmup(gen: QueryGen) -> list[tuple[str, object]]:
    """One first-seen call of every distributed kind, run untimed before
    the stream so the plan shapes it uses are compiled."""
    return [("exact", gen.first_seen()), ("wand", gen.first_seen()),
            ("bitmap", gen.first_seen_term()),
            ("batch", [gen.first_seen() for _ in range(BATCH_SIZE)])]


def dist_stream(gen: QueryGen, rng: random.Random):
    """The distributed tier's calls, endlessly: ``(kind, payload)`` with
    a Query for exact/wand/repeat, a Query list for batch and a term for
    bitmap.  Everything but a repeat is first-seen; a repeat re-sends an
    earlier exact query of this stream unchanged.  Exact and WAND queries
    step through ``DIST_SHAPES`` and bitmap terms alternate mid and tail;
    the batches mix shapes at random."""
    exact: list[Query] = []
    turn = {"exact": 0, "wand": 0, "bitmap": 0}
    for i in itertools.count():
        kind = DIST_CYCLE[i % len(DIST_CYCLE)]
        if kind == "repeat":
            yield kind, rng.choice(exact)
            continue
        if kind == "batch":
            yield kind, [gen.first_seen() for _ in range(BATCH_SIZE)]
            continue
        n = turn[kind]
        turn[kind] += 1
        if kind == "bitmap":
            yield kind, gen.first_seen_term(("mid", "tail")[n % 2])
        else:
            q = gen.first_seen(*DIST_SHAPES[n % len(DIST_SHAPES)])
            if kind == "exact":
                exact.append(q)
            yield kind, q
