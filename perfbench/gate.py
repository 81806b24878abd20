"""Correctness gate: every timed result against blacklab_spark.oracle.

BM25 results must match the oracle bit for bit: the same doc ids, in the same
order, with the same float64 scores. Span counts, capped counts, KWIC windows
and collocations are checked against a scan of the oracle's token positions.
Doc ids are derived here from the input rows alone — rank under
(conv_id, turn_idx) within each batch, offset by the documents before it —
never read back from the engine.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd

from blacklab_spark import oracle
from blacklab_spark.tokenizer import tokenize

from perfbench.queries import KWIC_CONTEXT, SEARCH_KINDS, Query


def texts_in_doc_order(batch: pd.DataFrame) -> list[str]:
    """A batch's texts in the order the engine numbers its documents."""
    return batch.sort_values(["conv_id", "turn_idx"])["text"].tolist()


class Oracle:
    """Expected results over the texts given, doc id = list position."""

    def __init__(self, texts: list[str]):
        self.index = oracle.build_oracle_index(list(enumerate(texts)))
        self._texts = texts
        self._tokens: list[list[str]] | None = None
        self._memo: dict[str, object] = {}

    @property
    def tokens(self) -> list[list[str]]:
        if self._tokens is None:
            self._tokens = [tokenize(t) for t in self._texts]
        return self._tokens

    def expected(self, q: Query):
        if q.key not in self._memo:
            self._memo[q.key] = self._expected(q)
        return self._memo[q.key]

    def _expected(self, q: Query):
        idx = self.index
        if q.kind in ("term", "stop", "k1000", "or3"):
            return oracle.topk_or(idx, list(q.terms), q.k)
        if q.kind == "and2":
            return oracle.topk_and(idx, list(q.terms), q.k)
        if q.kind == "phrase":
            return oracle.topk_phrase(idx, list(q.terms), q.k)
        if q.kind == "regex":
            pattern = re.escape(q.text[:-1]) + ".*"
            terms = sorted(t for t in idx.postings if re.fullmatch(pattern, t))
            return oracle.topk_or(idx, terms, q.k) if terms else []
        if q.kind == "seq_count":
            return len(self._gap_hits(q.terms[0], q.terms[1], 0, 2))
        if q.kind == "capped_count":
            n = len(self._gap_hits(q.terms[0], q.terms[1], 0, 1))
            return min(n, q.k), int(n > q.k)
        if q.kind == "kwic_page":
            return [self._kwic(d, s, e) for d, s, e in
                    sorted(self._gap_hits(q.terms[0], q.terms[1], 0, 0))[:q.k]]
        if q.kind == "colloc":
            return self._collocations(q.terms[0])
        raise ValueError(f"unknown query kind {q.kind!r}")

    def _gap_hits(self, a: str, b: str, gmin: int, gmax: int) -> list[tuple[int, int, int]]:
        """Spans (doc, start, end) of `"a" []{gmin,gmax} "b"`."""
        pa = self.index.positions.get(a, {})
        pb = self.index.positions.get(b, {})
        hits = []
        for d in pa.keys() & pb.keys():
            bset = set(pb[d])
            for i in pa[d]:
                for g in range(gmin, gmax + 1):
                    j = i + 1 + g
                    if j in bset:
                        hits.append((d, i, j + 1))
        return hits

    def _kwic(self, d: int, s: int, e: int) -> tuple:
        toks = self.tokens[d]
        return (
            d, s, e,
            " ".join(toks[max(0, s - KWIC_CONTEXT):s]),
            " ".join(toks[s:e]),
            " ".join(toks[e:e + KWIC_CONTEXT]),
        )

    def _collocations(self, term: str, window: int = 2) -> list[tuple[str, int]]:
        counts: Counter = Counter()
        for d, plist in self.index.positions.get(term, {}).items():
            toks = self.tokens[d]
            for p in plist:
                counts.update(toks[max(0, p - window):p])
                counts.update(toks[p + 1:p + 1 + window])
        return sorted(counts.items())


def same(q: Query, got, want) -> bool:
    """Bitwise for BM25 scores (float.hex), exact equality otherwise."""
    if q.kind in SEARCH_KINDS:
        return [(d, float(s).hex()) for d, s in got] == \
            [(d, float(s).hex()) for d, s in want]
    return got == want


def check(oracle_: Oracle, results: list[tuple[Query, object]], log) -> int:
    """Number of results that differ from the oracle; each one is logged."""
    failed = 0
    for q, got in results:
        want = oracle_.expected(q)
        if not same(q, got, want):
            failed += 1
            log(f"MISMATCH {q.key}: got {str(got)[:300]} want {str(want)[:300]}")
    return failed
