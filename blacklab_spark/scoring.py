"""BM25 scoring contract — the single source of truth shared by engine and oracle.

Implements Lucene 9.x BM25Similarity exactly (the reference pins Lucene 9.11.1,
/root/reference/pom.xml:50; formula per SURVEY.md §7.4):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(t, d) = idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))

with k1=1.2, b=0.75.  Lucene >= 8 omits the rank-neutral (k1+1) numerator.
Unlike Lucene's lossy 1-byte norms, we use EXACT doc lengths, mirroring
BlackLab's exact `length_tokens` field
(/root/reference/engine/src/main/java/nl/inl/blacklab/search/indexmetadata/AnnotatedField.java:38-40,
 DocFieldLengthGetter.java:28-37) so parity is bit-deterministic.

Multi-term score = sum of per-term scores accumulated in ASCENDING TERM ORDER
(fixed summation order => bitwise-reproducible float64; see SURVEY.md §7.3).
Phrase score = (sum of member-term idfs) * tf_phrase / (tf_phrase + k1*(...)),
matching Lucene's PhraseQuery scoring (phrase freq through the same saturation).
Top-k ordering: (score DESC, doc_id ASC).
"""

from __future__ import annotations

import numpy as np

K1: float = 1.2
B: float = 0.75


def idf(n_docs: int, df: int) -> float:
    """Lucene 9 BM25 idf. float64 throughout."""
    n = np.float64(n_docs)
    d = np.float64(df)
    return float(np.log(np.float64(1.0) + (n - d + np.float64(0.5)) / (d + np.float64(0.5))))


def bm25(tf, dl, avgdl: float, idf_val):
    """Vectorized BM25. tf/dl may be numpy arrays (float64 result); idf_val
    is one term's idf or an array of per-posting idfs.

    norm = k1 * (1 - b + b * dl/avgdl); score = idf * tf / (tf + norm).
    """
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    norm = np.float64(K1) * (np.float64(1.0 - B) + np.float64(B) * dl / np.float64(avgdl))
    return np.asarray(idf_val, dtype=np.float64) * tf / (tf + norm)


def bm25_upper_bound(tf, dl, avgdl: float, idf_val: float) -> float:
    """Max BM25 contribution over a posting block — block-max metadata.

    Exact per-block max (we have exact tf AND dl per posting at encode time),
    analogous to Lucene's impacts/block-max WAND bounds.
    """
    s = bm25(tf, dl, avgdl, idf_val)
    return float(s.max()) if s.size else 0.0
