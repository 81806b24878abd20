"""Seeded query mixes and the calls that run them against a Corpus.

Every query kind draws from its own random stream, so a kind's queries for a
seed are the same whichever workload asks for them. Terms are drawn
log-uniformly over Zipf rank of the synthetic vocabulary (w0001 is the most
frequent non-stop word, w5000 the rarest), so a term's document frequency
ranges from a handful of documents to thousands; stop words reach most
documents.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "for", "on", "with")
VOCAB = 5000

SEARCH_KINDS = ("term", "stop", "or3", "and2", "phrase", "k1000", "regex")
SPAN_KINDS = ("seq_count", "capped_count", "kwic_page", "colloc")
ALL_KINDS = SEARCH_KINDS + SPAN_KINDS

COUNT_CAP = 500  # max_count of the capped_count kind
KWIC_CONTEXT = 5
KWIC_PAGE = 20
COLLOC_WINDOW = 2


@dataclass(frozen=True)
class Query:
    kind: str
    terms: tuple[str, ...]
    k: int = 10  # top-k; the count cap of capped_count; the page of kwic_page
    text: str = ""  # wildcard or CQL form, when the call takes a string

    @property
    def key(self) -> str:
        return f"{self.kind}:{self.text or ' '.join(self.terms)}:{self.k}"


def _term(rng: np.random.Generator, max_rank: int = VOCAB) -> str:
    rank = int(math.exp(rng.uniform(0.0, math.log(max_rank + 1))))
    return f"w{min(max(rank, 1), max_rank):04d}"


def _stop(rng: np.random.Generator) -> str:
    return STOPWORDS[int(rng.integers(len(STOPWORDS)))]


def _adjacent_pair(rng: np.random.Generator, docs: list[list[str]]) -> tuple[str, str]:
    """Two adjacent tokens of a random document, so the phrase has hits."""
    while True:
        toks = docs[int(rng.integers(len(docs)))]
        if len(toks) >= 2:
            i = int(rng.integers(len(toks) - 1))
            return toks[i], toks[i + 1]


def make_query(kind: str, rng: np.random.Generator, docs: list[list[str]]) -> Query:
    if kind == "term":
        return Query(kind, (_term(rng),))
    if kind == "stop":
        return Query(kind, (_stop(rng),))
    if kind == "or3":
        terms: set[str] = set()
        while len(terms) < 3:
            terms.add(_term(rng))
        return Query(kind, tuple(sorted(terms)))
    if kind == "and2":
        return Query(kind, (_stop(rng), _term(rng)))
    if kind == "phrase":
        return Query(kind, _adjacent_pair(rng, docs))
    if kind == "k1000":
        return Query(kind, (_term(rng, 100),), k=1000)
    if kind == "regex":
        prefix = f"w0{int(rng.integers(100)):02d}"
        return Query(kind, (prefix,), text=prefix + "*")
    if kind == "seq_count":
        a, b = _stop(rng), _term(rng, 500)
        return Query(kind, (a, b), text=f'"{a}" []{{0,2}} "{b}"')
    if kind == "capped_count":
        a, b = _stop(rng), _term(rng, 100)
        return Query(kind, (a, b), k=COUNT_CAP, text=f'"{a}" []{{0,1}} "{b}"')
    if kind == "kwic_page":
        a, b = _adjacent_pair(rng, docs)
        return Query(kind, (a, b), k=KWIC_PAGE, text=f'"{a}" "{b}"')
    if kind == "colloc":
        return Query(kind, (_term(rng, 1000),))
    raise ValueError(f"unknown query kind {kind!r}")


def make_pools(
    seed: int, kinds: tuple[str, ...], docs: list[list[str]], size: int
) -> dict[str, list[Query]]:
    """`size` queries per kind. docs: token lists the phrase kinds sample
    adjacent pairs from (any stable sample of the corpus)."""
    pools = {}
    for kind in kinds:
        rng = np.random.default_rng([seed, ALL_KINDS.index(kind)])
        pools[kind] = [make_query(kind, rng, docs) for _ in range(size)]
    return pools


def rounds(pools: dict[str, list[Query]]):
    """Endless sequence of rounds; round r holds query r of every kind."""
    r = 0
    while True:
        yield [pool[r % len(pool)] for pool in pools.values()]
        r += 1


# ------------------------------------------------------------- execution --
def plan(corpus, q: Query):
    """The call that returns the lazy result (DataFrame or HitsPage): term
    lookup, pattern expansion and plan building happen here, plus any Spark
    job the program starts before a result is asked for."""
    if q.kind in ("term", "stop", "k1000", "or3"):
        return corpus.search_or(list(q.terms), k=q.k)
    if q.kind == "and2":
        return corpus.search_and(list(q.terms), k=q.k)
    if q.kind == "phrase":
        return corpus.search_phrase(list(q.terms), k=q.k)
    if q.kind == "regex":
        return corpus.search(q.text, k=q.k)
    if q.kind == "seq_count":
        return corpus.find_cql(q.text)
    if q.kind == "capped_count":
        return corpus.count_hits(q.text, max_count=q.k)
    if q.kind == "kwic_page":
        return corpus.hits_page(q.text, context=KWIC_CONTEXT, number=q.k)
    if q.kind == "colloc":
        from blacklab_spark.operators.grouping import collocations_hits

        hits = corpus.spans_term(q.terms[0]).selectExpr("doc_id", "start as pos")
        return collocations_hits(hits, corpus.docs, COLLOC_WINDOW)
    raise ValueError(f"unknown query kind {q.kind!r}")


def collect(q: Query, planned):
    """Run the planned query and return its result as plain Python values."""
    if q.kind in SEARCH_KINDS:
        return [(int(r["doc_id"]), float(r["score"])) for r in planned.collect()]
    if q.kind == "seq_count":
        return int(planned.count())
    if q.kind == "capped_count":
        row = planned.collect()[0]
        return int(row["n_hits"]), int(row["is_lower_bound"])
    if q.kind == "kwic_page":
        return [
            (int(r["doc_id"]), int(r["start"]), int(r["end"]),
             r["left"], r["match"], r["right"])
            for r in planned.hits.collect()
        ]
    if q.kind == "colloc":
        return sorted((r["term"], int(r["n"])) for r in planned.collect())
    raise ValueError(f"unknown query kind {q.kind!r}")
