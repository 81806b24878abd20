"""Corpus — the query-side API over a built index.

Replaces BlackLab's BlackLabIndex.search()/find() surface
(/root/reference/engine/src/main/java/nl/inl/blacklab/search/BlackLabIndex.java:168-240)
with DataFrame plans:

  * term lookup       → term_dict parquet scan with pushed-down predicate
                        (≈ Lucene TermsEnum seek)
  * postings decode   → codecs.decode_blocks: every Arrow batch of posting
                        blocks decoded in one vectorized call, BM25 in numpy
                        (≈ PostingsEnum walk, but block-batched)
  * rarest-first      → query terms processed in df-ascending order — the
                        WAND ordering; the reference's cost-model analog is
                        ClauseCombinerNfa.getFactor (/root/reference/engine/src/
                        main/java/nl/inl/blacklab/search/lucene/optimize/
                        ClauseCombinerNfa.java:144-201)
  * block-max pruning → single-term top-k decodes the best blocks first,
                        takes the k-th best score θ among them and drops
                        every block whose exact block_max_score < θ
                        (threshold block-max WAND, partition-local)
  * top-k             → orderBy(score desc, doc_id asc).limit(k) — Spark
                        compiles this to TakeOrderedAndProject (bounded
                        per-partition heaps + driver merge, no global sort)

Float64 parity contract (SURVEY.md §7.3/§7.4): per-term contributions are
computed with the SAME numpy code as the oracle; multi-term sums fold in
ascending term_id order (== ascending term order, since term_id is the dense
rank of the term string), bitwise-identical to the oracle's accumulation.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blacklab_spark import codecs, scoring
from blacklab_spark.build import IndexPaths
from blacklab_spark.plans.parser import AndQuery, OrQuery, PhraseQuery, parse_query

_DECODED_SCHEMA = "term_id long, doc_id long, contrib double"
_DECODED_POS_SCHEMA = (
    "term_id long, doc_id long, tf int, dl int, positions array<long>"
)


def _decode(blocks, positions: bool = False) -> codecs.Postings:
    """Decode a frame of posting blocks (pandas DataFrame or Arrow
    RecordBatch) in one codecs.decode_blocks call."""
    return codecs.decode_blocks(
        blocks["first_doc_id"], blocks["doc_gaps"], blocks["tfs"],
        blocks["dls"], blocks["positions"] if positions else None,
    )


def _member(cands: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Elementwise d ∈ cands, for sorted unique non-empty cands."""
    idx = np.searchsorted(cands, d)
    m = idx < cands.size
    m &= np.where(m, cands[np.minimum(idx, cands.size - 1)] == d, False)
    return m


def _overlapping(cands: np.ndarray, blocks: pd.DataFrame) -> np.ndarray:
    """Block skip: which blocks' [first_doc_id, last_doc_id] windows hold at
    least one of the sorted unique non-empty candidate docs."""
    li = np.searchsorted(cands, blocks["first_doc_id"].to_numpy())
    keep = li < cands.size
    keep &= np.where(
        keep,
        cands[np.minimum(li, cands.size - 1)] <= blocks["last_doc_id"].to_numpy(),
        False,
    )
    return keep


def _topk(d: np.ndarray, s: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The k best (doc, score) pairs under (score desc, doc_id asc)."""
    if d.size > k:
        top = np.lexsort((d, -s))[:k]
        d, s = d[top], s[top]
    return d, s


@dataclass
class HitsPage:
    """One serving request's results (Corpus.hits_page): the windowed hits,
    optional groups over the processed hits, and the paired-cap summary row
    (n_processed, processed_is_estimate, n_counted, count_is_lower_bound)."""

    hits: DataFrame
    groups: DataFrame | None
    summary: DataFrame


class Corpus:
    def __init__(self, spark: SparkSession, path: str):
        from blacklab_spark.incremental import recover_pending

        recover_pending(path)  # resolve any torn add_to_index before reading
        self.spark = spark
        self.paths = IndexPaths(path)
        with open(self.paths.meta) as f:
            self.meta = json.load(f)
        self.n_docs: int = self.meta["n_docs"]
        self.avgdl: float = self.meta["avgdl"]
        # fold-convention gate (ADVICE r5): query-side pattern folding must
        # match the convention baked into the stored i/di layers, or
        # insensitive searches silently miss (stored 'ß' vs query 'ss')
        from blacklab_spark.tokenizer import FOLD_VERSION

        stamped = self.meta.get("fold_version")
        if stamped != FOLD_VERSION:
            import warnings

            warnings.warn(
                f"index at {path} was built with fold_version="
                f"{stamped if stamped is not None else 'unstamped (pre-r6)'} "
                f"but this engine folds with version {FOLD_VERSION}; "
                "insensitive (i/di layer) searches may silently miss terms "
                "containing re-folded characters — rebuild the index",
                stacklevel=2,
            )

    # ------------------------------------------------------------ tables --
    # r7: every table handle is resolved ONCE per Corpus (spark.read.parquet
    # lists the directory and reads a footer for schema on EVERY call — a
    # driver-side cost paid per query before this). A Corpus is a
    # point-in-time snapshot like an open Lucene IndexReader (appends open a
    # fresh Corpus — see preload), so reusing the relation is semantics-
    # preserving, and Spark's shared FileStatusCache keeps listings fresh
    # per-path anyway.
    @property
    def docs(self) -> DataFrame:
        cached = getattr(self, "_docs_df", None)
        if cached is None:
            cached = self._docs_df = self.spark.read.parquet(self.paths.docs)
        return cached

    @property
    def term_dict(self) -> DataFrame:
        cached = getattr(self, "_term_dict_df", None)
        if cached is None:
            cached = self._term_dict_df = self.spark.read.parquet(
                self.paths.term_dict
            )
        return cached

    @property
    def postings(self) -> DataFrame:
        cached = getattr(self, "_postings_df", None)
        if cached is None:
            cached = self._postings_df = self.spark.read.parquet(
                self.paths.postings
            )
        return cached

    def preload(self, pin_docs: bool | str = "auto") -> "Corpus":
        """Serving mode — the analog of BlackLab holding an open IndexReader:

        * term dictionary cached driver-side (lookup_terms / expand_pattern);
        * docs table (forward index) pinned in executor memory — its
          consumers are JVM joins/slices (KWIC, collocations, constraints),
          which read the columnar cache efficiently;
        * postings warmed through once so the OS page cache holds the bytes,
          but deliberately NOT .persist()ed: the decode paths consume the
          postings via mapInArrow/mapInPandas, and a cached in-memory
          relation must be re-converted row-wise to Arrow, which measured
          SLOWER at 2M turns (phrase 5.3s → 7.7s) than the vectorized
          parquet reader streaming off the page cache.

        Like a Lucene reader this is a point-in-time snapshot: appends after
        preload are not visible until a fresh Corpus is opened."""
        if getattr(self, "_preloaded", False):
            return self
        from pyspark import StorageLevel

        self.lookup_terms([])  # populate the driver-side term-dict cache
        # Page-cache warm must READ the data pages: a bare count() is served
        # from parquet row-group metadata with an empty read schema and never
        # touches the postings bytes. Summing the binary column lengths
        # forces a full decode of every page exactly once.
        self.spark.read.parquet(self.paths.postings).select(
            F.sum(
                F.length("doc_gaps") + F.length("tfs") + F.length("dls")
                + F.length("positions")
            )
        ).collect()
        if pin_docs == "auto":
            # pin only when the decoded docs table fits comfortably: under
            # memory pressure the persisted docs cache competes with the
            # postings page cache and DEGRADES span-heavy serving (measured
            # at 1.2M turns, BENCH/BASELINE.md r3 caveat — previously a
            # manual pin_docs=False). On-disk parquet expands roughly 3x
            # as an in-memory columnar cache; cap at 25% of the JVM heap.
            docs_bytes = sum(
                os.path.getsize(os.path.join(self.paths.docs, nm))
                for nm in os.listdir(self.paths.docs)
                if nm.startswith("part-")
            )
            pin_docs = docs_bytes * 3 < self._executor_storage_bytes() * 0.25
        if pin_docs:
            # pays off for KWIC/collocation/constraint consumers (JVM joins
            # over the forward index); span-heavy serving at large corpora
            # skips it via the auto guard above
            self._docs_df = self.spark.read.parquet(self.paths.docs).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            self._docs_df.count()
        self._preloaded = True
        return self

    def _executor_storage_bytes(self) -> int:
        """Total EXECUTOR storage-memory capacity — the heap a .persist()ed
        DataFrame actually lives in. On a cluster the driver's own heap says
        nothing about executor storage (ADVICE r4), so sum maxMem across the
        block managers; fall back to the local JVM heap (== executor heap in
        local mode) if the internal API moves."""
        try:
            ems = self.spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
            it = ems.toList().iterator()
            total = 0
            while it.hasNext():
                total += int(it.next()._2()._1())
            if total > 0:
                return total
        except Exception:
            pass
        return int(
            self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            .maxMemory()
        )

    def doc_lengths(self) -> DataFrame:
        return self.docs.select("doc_id", "dl")

    def doc_map(self) -> DataFrame:
        cols = self.meta.get("doc_key", ["conv_id", "turn_idx"])
        return self.docs.select(*cols, "doc_id")

    # ------------------------------------------------------------- lookup --
    # driver-side term-dict cache bound: ~500k terms ≈ tens of MB of driver
    # heap (VERDICT r1 flagged 2M as ~100s of MB); larger vocabularies fall
    # back to a pushed-down parquet scan per lookup
    _TD_CACHE_MAX = int(os.environ.get("BLACKLAB_TD_CACHE_MAX", 500_000))

    def lookup_terms(self, terms: list[str]) -> pd.DataFrame:
        """Term dictionary seek. For small vocabularies the dictionary is
        cached driver-side once (BlackLab similarly keeps Terms in memory,
        /root/reference/engine/src/main/java/nl/inl/blacklab/forwardindex/Terms.java);
        for huge vocabularies we fall back to a pushed-down parquet scan."""
        uniq = sorted(set(terms))
        cache = getattr(self, "_td_cache", None)
        if cache is None and not getattr(self, "_td_too_big", False):
            n = self.meta.get("n_terms")
            if n is None:
                n = self.term_dict.count()
                self.meta["n_terms"] = n
            if n <= self._TD_CACHE_MAX:
                cache = (
                    self.term_dict.select("term", "term_id", "df", "cf")
                    .toPandas()
                    .set_index("term", drop=False)
                )
                self._td_cache = cache
            else:
                self._td_too_big = True
        if cache is not None:
            hit = [t for t in uniq if t in cache.index]
            return (
                cache.loc[hit].sort_values("term_id").reset_index(drop=True)
            )
        rows = (
            self.term_dict.filter(F.col("term").isin(uniq))
            .select("term", "term_id", "df", "cf")
            .toPandas()
        )
        return rows.sort_values("term_id").reset_index(drop=True)

    def expand_pattern(self, regex: str, max_terms: int = 1024) -> list[str]:
        """Regex → concrete terms via the term dictionary (the reference's
        TextPatternRegex/BLSpanMultiTermQueryWrapper rewrite, SURVEY.md §2.2).

        Anchored like Lucene RegexpQuery: the pattern must match the ENTIRE
        term (rlike alone is substring search — /cat/ would hit 'concatenate').

        Served from the driver-side term-dict cache when it fits (a
        vectorized fullmatch over the vocabulary — no Spark job per regex
        atom, mirroring Lucene's in-memory TermsEnum walk); huge
        vocabularies fall back to a distributed term_dict scan.

        The two paths use different regex engines (Python re vs Java
        java.util.regex via rlike). Java's \\w/\\d/\\b and (?i) are
        ASCII-biased by default while Python's are Unicode — so the fallback
        enables UNICODE_CHARACTER_CLASS with an inline (?U) (which implies
        UNICODE_CASE), aligning both engines on accented vocabularies;
        cached==fallback agreement is pinned in test_sensitivity.py."""
        self.lookup_terms([])  # ensure the cache decision has been made
        cache = getattr(self, "_td_cache", None)
        if cache is not None:
            hit = cache.index[cache["term"].str.fullmatch(regex, na=False)]
            return sorted(hit[:max_terms])
        rows = (
            self.term_dict.filter(F.col("term").rlike("(?U)^(?:" + regex + ")$"))
            .select("term").limit(max_terms).collect()
        )
        return sorted(r["term"] for r in rows)

    # ------------------------------------------------------------- decode --
    def _decoded_scores(self, tinfo: pd.DataFrame, k_hint: int | None = None) -> DataFrame:
        """One term's postings → (term_id, doc_id, contrib).

        With k_hint each partition keeps only its local top-k, by threshold
        block-max WAND: blocks are visited in descending block_max_score
        order, the first ones holding ≥k postings are decoded, θ = the k-th
        best score among them, every remaining block with
        block_max_score < θ is dropped (strict, so ties at θ survive) and
        the rest decoded. The running top-k is flushed once at partition
        end (per-batch flushes would duplicate docs).
        """
        tid = int(tinfo["term_id"].iloc[0])
        idf_val = scoring.idf(self.n_docs, int(tinfo["df"].iloc[0]))
        avgdl = self.avgdl
        # block-max bounds are stale after an incremental append (df/avgdl
        # moved) — prune only when the index is compacted (bounds fresh)
        k = 0 if self.meta.get("bounds_stale", False) else int(k_hint or 0)

        blocks = self.postings.filter(F.col("term_id").isin([tid])).select(
            "first_doc_id", "num_docs", "doc_gaps", "tfs", "dls",
            "block_max_score",
        )

        def decode(batches):
            import pyarrow as pa

            def scored(rb):
                p = _decode(rb)
                return p.doc_ids, scoring.bm25(p.tfs, p.dls, avgdl, idf_val)

            def merge(top, rb):
                d, s = scored(rb)
                return _topk(
                    np.concatenate((top[0], d)), np.concatenate((top[1], s)), k
                )

            def out(d, s):
                return pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(d.size, tid, dtype=np.int64)),
                        pa.array(d, pa.int64()),
                        pa.array(s, pa.float64()),
                    ],
                    names=["term_id", "doc_id", "contrib"],
                )

            top = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                if not k:
                    yield out(*scored(rb))
                    continue
                bmax = rb.column("block_max_score").to_numpy(zero_copy_only=False)
                order = np.argsort(-bmax, kind="stable")
                rb, bmax = rb.take(pa.array(order)), bmax[order]
                # the best blocks until they, with the running top-k, hold ≥k
                held = top[0].size + np.cumsum(
                    rb.column("num_docs").to_numpy(zero_copy_only=False)
                )
                head = 0 if top[0].size >= k else int(np.searchsorted(held, k)) + 1
                top = merge(top, rb.slice(0, head))
                if top[0].size >= k:  # θ = top[1].min(), the k-th best score
                    rest = head + np.flatnonzero(bmax[head:] >= top[1].min())
                    top = merge(top, rb.take(pa.array(rest)))
            if k and top[0].size:
                yield out(*top)

        return blocks.mapInArrow(decode, schema=_DECODED_SCHEMA)

    def _decoded_positions(self, tinfo: pd.DataFrame) -> DataFrame:
        """postings → (term_id, doc_id, tf, dl, positions) for phrase matching.

        Arrow-native: each batch of blocks is decoded in one
        codecs.decode_blocks call and the per-doc position lists are emitted
        as ONE ListArray (offsets = cumsum(tf)) — no Python list objects, so
        stop-word phrases decode at memory speed.
        """
        term_ids = [int(t) for t in tinfo["term_id"]]
        blocks = self.postings.filter(F.col("term_id").isin(term_ids)).select(
            "term_id", "first_doc_id", "doc_gaps", "tfs", "dls", "positions"
        )

        def decode(batches):
            import pyarrow as pa

            for rb in batches:
                if rb.num_rows == 0:
                    continue
                p = _decode(rb, positions=True)
                tids = rb.column("term_id").to_numpy(zero_copy_only=False)
                offsets = np.concatenate(([0], np.cumsum(p.tfs))).astype("int32")
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(tids[p.block], pa.int64()),
                        pa.array(p.doc_ids, pa.int64()),
                        pa.array(p.tfs.astype("int32"), pa.int32()),
                        pa.array(p.dls.astype("int32"), pa.int32()),
                        pa.ListArray.from_arrays(
                            pa.array(offsets), pa.array(p.positions, pa.int64())
                        ),
                    ],
                    names=["term_id", "doc_id", "tf", "dl", "positions"],
                )

        return blocks.mapInArrow(decode, schema=_DECODED_POS_SCHEMA)

    # ----------------------------------------------------- postings leaves --
    def term_positions(self, term: str) -> DataFrame:
        """(doc_id, tf, positions array<long>) for one term from the
        positional postings (positions ascending per doc)."""
        tinfo = self.lookup_terms([term])
        if tinfo.empty:
            return self.spark.createDataFrame(
                [], "doc_id long, tf int, positions array<long>"
            )
        return self._decoded_positions(tinfo).select("doc_id", "tf", "positions")

    def spans_term(self, term: str) -> DataFrame:
        """Postings-backed BLSpanTermQuery leaf: every occurrence of `term`
        as a length-1 span (doc_id, start, end), decoded straight from the
        positional postings. Feed this to blacklab_spark.operators.spans —
        the span algebra then runs off the index instead of a full-corpus
        posexplode (VERDICT r1 'Missing #2')."""
        return self.spans_terms([term])

    def spans_terms(self, terms: list[str]) -> DataFrame:
        """Union of length-1 spans for several terms from ONE postings scan —
        the BLSpanMultiTermQueryWrapper expansion leaf (one regex/wildcard
        atom expands to many terms; they share a single decode pass).

        r7: the EXACT output size is known at plan time — sum of the terms'
        collection frequencies — so when it fits the broadcast cap the
        result carries a broadcast hint. Downstream hit→docs joins
        (collocations, KWIC, context ops) then broadcast the hits side
        without the runtime size probe (guide §3.1: the optimizer cannot
        size a Python-decoded side; we can)."""
        tinfo = self.lookup_terms(terms)
        if tinfo.empty:
            return self.spark.createDataFrame([], "doc_id long, start int, end int")
        out = (
            self._decoded_positions(tinfo)
            .select("doc_id", F.explode("positions").alias("p"))
            .select(
                "doc_id",
                F.col("p").cast("int").alias("start"),
                (F.col("p") + 1).cast("int").alias("end"),
            )
        )
        from blacklab_spark.operators.grouping import _BROADCAST_HITS_CAP

        if 0 < int(tinfo["cf"].sum()) <= _BROADCAST_HITS_CAP:
            out = out.hint("broadcast")
        return out

    def positions_of_terms(self, terms: list[str]) -> DataFrame:
        """(doc_id, positions sorted array<long>): merged per-doc start
        positions of a CLAUSE — one term, a regex expansion, a synonym set —
        in the array-domain representation the sequence fast path chains
        (one row per doc, so sequence joins shuffle docs, not positions)."""
        tinfo = self.lookup_terms(terms)
        if tinfo.empty:
            return self.spark.createDataFrame(
                [], "doc_id long, positions array<long>"
            )
        dec = self._decoded_positions(tinfo).select("doc_id", "positions")
        if len(tinfo) == 1:
            return dec
        return dec.groupBy("doc_id").agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("positions")))
            ).alias("positions")
        )

    # key packing for the positions-chain kernel: within one doc-range
    # partition, key = (doc_id - lo) * 2^33 + (start + 2^32). Safe while
    # (n_docs / shuffle.partitions) < 2^30 — at 10^12 docs a cluster run
    # sets spark.sql.shuffle.partitions >= ~10^4, keeping rel-doc < 10^8.
    _PC_DOC_MULT = np.int64(1) << 33
    _PC_POS_BIAS = np.int64(1) << 32

    def positions_chain(
        self,
        clauses: list[tuple],
        with_dl: bool = False,
        vargap_tail: tuple | None = None,
    ) -> DataFrame:
        """Fixed-gap sequence run [(terms, offset[, layer_corpus])] →
        (doc_id, positions) in run-start coordinates — the array-domain
        chain WITHOUT the per-clause join: ONE doc-range shuffle of the
        clauses' COMPRESSED posting blocks, then a partition-local numpy
        decode + sorted-key intersect, rarest clause first. Later clauses
        skip whole blocks whose [first_doc_id, last_doc_id] window holds no
        surviving candidate doc (the score_range_and discipline applied to
        positions), so a stop-word clause anchored by a rare clause decodes
        almost nothing. vs the join formulation: the shuffle moves varint
        bytes instead of decoded int64 position arrays, and the hash joins
        disappear. Reference analog: SpansSequence over per-segment postings
        (SpanQuerySequence.java) with ClauseCombinerNfa's rarest-first
        ordering.

        A clause may name another LAYER's Corpus as its third element
        (r5, VERDICT #7): annotation layers share the docID space and token
        positions by construction (annotated.build_annotated_index), so a
        cross-layer chain like [lemma="x"] [pos="y"] co-locates each layer's
        blocks in the same doc-range partition — blocks are keyed by
        (layer, term_id) and the intersect is unchanged.

        `vargap_tail=(terms, width, gap_min, gap_max[, layer_corpus])`
        appends a VARIABLE-finite-gap clause inside the SAME kernel pass —
        one extra intersect per gap value — and switches the output to spans
        (doc_id, start, end): the `run []{m,n} clause` shape without ever
        materializing the prefix outside the partition."""
        if vargap_tail is not None:
            out_schema = "doc_id long, start int, end int"
        else:
            out_schema = (
                "doc_id long, positions array<long>"
                + (", dl int" if with_dl else "")
            )
        layers: list[Corpus] = [self]

        def _layer_idx(c: "Corpus" | None) -> int:
            c = c or self
            for i, x in enumerate(layers):
                if x is c:
                    return i
            if c.n_docs != self.n_docs:
                raise ValueError(
                    "positions_chain layers must share the docID space "
                    f"(n_docs {c.n_docs} != {self.n_docs})"
                )
            layers.append(c)
            return len(layers) - 1

        infos = []
        tids_by_layer: dict[int, set[int]] = {}
        for cl in clauses:
            terms, off = cl[0], cl[1]
            lyr = _layer_idx(cl[2] if len(cl) > 2 else None)
            ti = layers[lyr].lookup_terms(terms)
            tids = [int(t) for t in ti["term_id"]]
            if not tids:  # a vocab-miss clause empties the whole chain
                return self.spark.createDataFrame([], out_schema)
            infos.append((int(ti["df"].sum()), lyr, tids, int(off)))
            tids_by_layer.setdefault(lyr, set()).update(tids)
        infos.sort(key=lambda t: (t[0], t[3]))
        tail_tids: list[int] = []
        tail_lyr = 0
        shifts: list[int] = []
        if vargap_tail is not None:
            t_terms, t_width, t_gmin, t_gmax = vargap_tail[:4]
            tail_lyr = _layer_idx(
                vargap_tail[4] if len(vargap_tail) > 4 else None
            )
            tti = layers[tail_lyr].lookup_terms(t_terms)
            tail_tids = [int(t) for t in tti["term_id"]]
            if not tail_tids:
                return self.spark.createDataFrame([], out_schema)
            shifts = [t_width + g for g in range(t_gmin, t_gmax + 1)]
        n_ranges = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        R = max(1, -(-self.n_docs // n_ranges))
        DOC_MULT, POS_BIAS = self._PC_DOC_MULT, self._PC_POS_BIAS
        if R >= int(DOC_MULT >> 3):
            raise ValueError(
                "positions_chain: docs-per-range too large for key packing; "
                "raise spark.sql.shuffle.partitions"
            )
        clauses_by_rarity = [(lyr, tids) for _, lyr, tids, _ in infos]
        clause_offs = [off for _, _, _, off in infos]

        def _blocks(lyr, tids, role):
            return layers[lyr].postings.filter(
                F.col("term_id").isin(sorted(tids))
            ).select(
                "term_id", "first_doc_id", "last_doc_id",
                "doc_gaps", "tfs", "dls", "positions",
                F.explode(
                    F.sequence(
                        F.floor(F.col("first_doc_id") / F.lit(R)),
                        F.floor(F.col("last_doc_id") / F.lit(R)),
                    )
                ).alias("rng"),
                F.lit(role).alias("role"),
                F.lit(lyr).alias("lyr"),
            )

        blocks = None
        for lyr, tids in sorted(tids_by_layer.items()):
            b = _blocks(lyr, tids, 0)
            blocks = b if blocks is None else blocks.unionByName(b)
        if tail_tids:
            # a term can serve both a prefix clause AND the tail — emit its
            # blocks once per role
            blocks = blocks.unionByName(_blocks(tail_lyr, tail_tids, 1))
        if vargap_tail is not None:
            empty_pdf = pd.DataFrame({
                "doc_id": pd.Series(dtype="int64"),
                "start": pd.Series(dtype="int32"),
                "end": pd.Series(dtype="int32"),
            })
        else:
            empty_pdf = pd.DataFrame({
                "doc_id": pd.Series(dtype="int64"),
                "positions": pd.Series(dtype="object"),
                **({"dl": pd.Series(dtype="int32")} if with_dl else {}),
            })

        def chain_range(pdf: pd.DataFrame) -> pd.DataFrame:
            rng = int(pdf["rng"].iloc[0])
            lo, hi = rng * R, (rng + 1) * R
            role = pdf["role"].to_numpy()
            lyr_col = pdf["lyr"].to_numpy()
            tid_col = pdf["term_id"].to_numpy()

            def clause_keys(sel, cand):
                """Blocks `sel` → sorted unique (doc, position) keys of their
                postings in this range (and in `cand`, when given), plus the
                kept postings' (range-relative doc, dl)."""
                g = pdf[sel]
                if cand is not None:
                    g = g[_overlapping(cand, g)]
                p = _decode(g, positions=True)
                m = (p.doc_ids >= lo) & (p.doc_ids < hi)
                if cand is not None:
                    m &= _member(cand, p.doc_ids)
                rel = p.doc_ids - lo
                pm = np.repeat(m, p.tfs)
                keys = np.repeat(rel, p.tfs)[pm] * DOC_MULT + p.positions[pm]
                # multi-term clauses (regex expansions, synonyms) can repeat
                # a (doc, position); unique also sorts for the intersect
                return np.unique(keys + POS_BIAS), rel[m], p.dls[m]

            running = None
            for ci, (lyr, tids) in enumerate(clauses_by_rarity):
                cand = None
                if running is not None:
                    cand = lo + np.unique(running // DOC_MULT)
                keys, dl_docs, dl_vals = clause_keys(
                    (role == 0) & (lyr_col == lyr) & np.isin(tid_col, tids), cand
                )
                keys -= clause_offs[ci]
                running = keys if running is None else np.intersect1d(
                    running, keys, assume_unique=True
                )
                if running.size == 0:
                    return empty_pdf
                if ci == 0:  # exact dl, collected on the first clause
                    first_docs, first_dls = dl_docs, dl_vals
            if tail_tids:  # plain-data flag: the closure must not capture
                #            vargap_tail (it may hold a Corpus → SparkContext)
                # the variable-gap tail, same decode + candidate skipping;
                # one intersect per gap value, spans out
                tail_keys, _, _ = clause_keys(
                    role == 1, lo + np.unique(running // DOC_MULT)
                )
                outs = []
                for s in shifts:
                    hit = np.intersect1d(
                        running, tail_keys - s, assume_unique=True
                    )
                    if hit.size:
                        doc_rel = hit // DOC_MULT
                        st = (hit - doc_rel * DOC_MULT) - POS_BIAS
                        outs.append(pd.DataFrame({
                            "doc_id": (doc_rel + lo).astype("int64"),
                            "start": st.astype("int32"),
                            "end": (st + s + 1).astype("int32"),
                        }))
                if not outs:
                    return empty_pdf
                return pd.concat(outs, ignore_index=True)
            doc_rel = running // DOC_MULT
            start = (running - doc_rel * DOC_MULT) - POS_BIAS
            ud, idx = np.unique(doc_rel, return_index=True)
            out = {
                "doc_id": (ud + lo).astype("int64"),
                "positions": np.split(start.astype("int64"), idx[1:]),
            }
            if with_dl:
                srt = np.argsort(first_docs)
                dd, ll = first_docs[srt], first_dls[srt]
                out["dl"] = ll[np.searchsorted(dd, ud)].astype("int32")
            return pd.DataFrame(out)

        # r7 (guide §2.5 "stragglers"/AQE interaction): the compressed-block
        # shuffle is tiny (a few MB), so AQE's partition coalescing merged
        # the n_ranges reduce partitions down to 1-5 tasks and the Python
        # decode+intersect kernel ran nearly SERIAL. An explicit repartition
        # on the range key is user-specified partitioning AQE never
        # coalesces; groupBy("rng") reuses it (no extra exchange), keeping
        # one kernel task per doc range.
        return (
            blocks.repartition(n_ranges, "rng")
            .groupBy("rng").applyInPandas(chain_range, schema=out_schema)
        )

    def spans_chain_vargap(
        self,
        clauses: list[tuple],
        width: int,
        tail_terms: list[str],
        gap_min: int,
        gap_max: int,
        tail_corpus: "Corpus" | None = None,
    ) -> DataFrame:
        """`<fixed-gap run> []{gap_min,gap_max} <clause>` → spans
        (doc_id, start, end): the whole chain INCLUDING the variable-gap
        tail runs in one positions_chain kernel pass (no intermediate
        materialization of the prefix). Clauses and the tail may name other
        layers' Corpus objects (see positions_chain)."""
        return self.positions_chain(
            clauses,
            vargap_tail=(tail_terms, width, gap_min, gap_max, tail_corpus),
        )

    def spans_seq_terms(
        self, term_a: str, term_b: str, gap_min: int = 0, gap_max: int = 0
    ) -> DataFrame:
        """Fast path for `A []{gap} B` over two single terms: join the two
        PER-DOC POSITION ARRAYS (one row per doc per term — a docs-sized
        shuffle) and intersect shifted arrays JVM-side, instead of exploding
        every position of both terms into the join (a positions-sized
        shuffle). The same trick score_phrase uses, generalized to a gap
        range; for stop-word sequences this is the difference between
        shuffling millions of hit rows and thousands of doc rows. The CQL
        compiler generalizes this via positions_of_terms +
        operators.spans.seq_positions_* to whole chains of arbitrary
        single-position clauses."""
        from blacklab_spark.operators import spans as S

        return S.seq_positions_pair(
            self.positions_of_terms([term_a]), 1,
            self.positions_of_terms([term_b]), gap_min, gap_max,
        )

    # -------------------------------------------------------------- query --
    def score_or(self, terms: list[str], k: int | None = None) -> DataFrame:
        """Multi-term OR (BooleanQuery SHOULD): per-doc sum of BM25 in
        ascending-term order. Returns all matching docs: (doc_id, score)."""
        return self._cached(
            ("score_or", tuple(sorted(set(terms))), k),
            lambda: self._score_or(terms, k),
        )

    def _score_or(self, terms: list[str], k: int | None = None) -> DataFrame:
        tinfo = self.lookup_terms(terms)
        if tinfo.empty:
            return self.spark.createDataFrame([], "doc_id long, score double")
        if len(tinfo) == 1:
            decoded = self._decoded_scores(tinfo, k_hint=k)
            return decoded.select("doc_id", F.col("contrib").alias("score"))
        return self._range_scores(tinfo, k, conjunctive=False)

    def search_or(self, terms: list[str], k: int = 10) -> DataFrame:
        return (
            self.score_or(terms, k=k)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _range_scores(
        self,
        tinfo: pd.DataFrame,
        k: int | None,
        conjunctive: bool,
        groups: list[list[str]] | None = None,
    ) -> DataFrame:
        """Doc-range-partitioned scorer — the shared physical strategy for
        multi-term OR (with block-max WAND when k is given), AND, and
        conjunctions of OR-groups (BooleanQuery MUST clauses that are
        multi-term expansions).

        The query terms' posting blocks are re-keyed by docID RANGE so every
        doc's FULL score is computable inside one partition (a block that
        straddles a range boundary is replicated to both ranges and its
        decoded docs filtered to the range). Per partition, terms are visited
        rarest-first (ClauseCombinerNfa's cost ordering, /root/reference/
        engine/src/main/java/nl/inl/blacklab/search/lucene/optimize/
        ClauseCombinerNfa.java:144-201):

        * OR + k: block-max WAND. A growing threshold θ — the k-th best
          accumulated partial score, a lower bound of the k-th final score —
          prunes any block whose block_max_score plus the sum of the OTHER
          terms' range-local maxima cannot reach θ. No doc in such a block
          can reach the final top-k, so skipping never corrupts a reported
          score.
        * OR, no k: same partition-local numpy fold, no pruning, all rows.
        * conjunctive (groups; plain AND = singleton groups): groups are
          processed in ascending total-df order; the first group's decoded
          docs form the candidate set, every later term searchsorted-skips
          blocks whose [first_doc_id, last_doc_id] window holds no candidate
          — a stop-word MUST clause decodes only blocks overlapping the rare
          clause's docs. Score sums every (group, matched-term) contribution.

        Emitted scores are exact float64 left-folds in (group, term-string)
        order, bitwise equal to the oracle. Scale shape: ONE shuffle of the
        queried terms' blocks keyed on doc range, partition-local numpy
        scoring, then either a TakeOrderedAndProject over (n_ranges × k) rows
        (k given) or a plain union of per-range results.
        """
        import math as _math

        term_ids = [int(t) for t in tinfo["term_id"]]
        idf_map = {
            int(r.term_id): scoring.idf(self.n_docs, int(r.df))
            for r in tinfo.itertuples()
        }
        df_map = {int(r.term_id): int(r.df) for r in tinfo.itertuples()}
        tid_by_term = {r.term: int(r.term_id) for r in tinfo.itertuples()}
        # fold order = ascending term string (float64 parity contract)
        t_ord = {
            int(r.term_id): i
            for i, r in enumerate(tinfo.sort_values("term").itertuples())
        }
        if conjunctive and groups is None:
            groups = [[t] for t in sorted(tinfo["term"])]
        gid_terms = None
        group_proc_order = None
        if conjunctive:
            gid_terms = [
                sorted({tid_by_term[t] for t in g if t in tid_by_term})
                for g in groups
            ]
            # rarest group first builds the candidate set fastest
            group_proc_order = sorted(
                range(len(gid_terms)),
                key=lambda gi: sum(df_map[t] for t in gid_terms[gi]),
            )
        avgdl = self.avgdl
        # stale bounds after an append: block_max_score is no longer an upper
        # bound, so WAND pruning is off (scores stay exact regardless)
        prune = (
            k is not None and not conjunctive
            and not self.meta.get("bounds_stale", False)
        )
        n_ranges = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        R = max(1, -(-self.n_docs // n_ranges))
        kk = int(k) if k is not None else None

        blocks = self.postings.filter(F.col("term_id").isin(term_ids)).select(
            "term_id", "first_doc_id", "last_doc_id", "doc_gaps", "tfs", "dls",
            "block_max_score",
            F.explode(
                F.sequence(
                    F.floor(F.col("first_doc_id") / F.lit(R)),
                    F.floor(F.col("last_doc_id") / F.lit(R)),
                )
            ).alias("rng"),
        )

        empty_pdf = pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
        )

        def _decode_group(g, lo, hi, tid):
            p = _decode(g)
            m = (p.doc_ids >= lo) & (p.doc_ids < hi)
            return p.doc_ids[m], scoring.bm25(
                p.tfs[m], p.dls[m], avgdl, idf_map[tid]
            )

        def _fold_topk(parts, key2_per_part):
            """parts: [(d, contrib)]; key2_per_part: the (gid, t_ord) or
            t_ord sort key arrays aligned with parts — exact LEFT fold per
            doc in key order, then optional local top-k."""
            d = np.concatenate([p[0] for p in parts])
            c = np.concatenate([p[1] for p in parts])
            keys = [np.concatenate(col) for col in zip(*key2_per_part)]
            srt = np.lexsort(tuple(reversed(keys)) + (d,))
            d, c = d[srt], c[srt]
            ud, starts, counts = np.unique(d, return_index=True, return_counts=True)
            score = np.zeros(ud.size, dtype=np.float64)
            for j in range(int(counts.max())):
                sel = counts > j
                score[sel] += c[starts[sel] + j]
            if kk is not None:
                ud, score = _topk(ud, score, kk)
            return pd.DataFrame({"doc_id": ud.astype("int64"), "score": score})

        def score_range_or(pdf: pd.DataFrame) -> pd.DataFrame:
            rng = int(pdf["rng"].iloc[0])
            lo, hi = rng * R, (rng + 1) * R
            by_term = {int(tid): g for tid, g in pdf.groupby("term_id")}
            ub = {tid: float(g["block_max_score"].max()) for tid, g in by_term.items()}
            sum_ub = sum(ub.values())
            theta = -_math.inf
            parts, keys = [], []
            order = sorted(by_term, key=lambda tid: (df_map[tid], t_ord[tid]))
            for tid in order:
                g = by_term[tid]
                if prune and theta > -_math.inf:
                    slack = abs(theta) * 1e-12 + 1e-12  # fp-safety margin
                    bound = g["block_max_score"].to_numpy() + (sum_ub - ub[tid])
                    g = g[bound >= theta - slack]
                if len(g) == 0:
                    continue
                d, contrib = _decode_group(g, lo, hi, tid)
                if d.size == 0:
                    continue
                parts.append((d, contrib))
                keys.append((np.full(d.size, t_ord[tid], dtype=np.int64),))
                if prune:
                    # θ update: k-th best accumulated partial. Order-free sums
                    # are fine here — θ only gates pruning, never a reported
                    # score (those are re-folded exactly below).
                    ad = np.concatenate([p[0] for p in parts])
                    ac = np.concatenate([p[1] for p in parts])
                    udq, inv = np.unique(ad, return_inverse=True)
                    if udq.size >= kk:
                        sums = np.zeros(udq.size)
                        np.add.at(sums, inv, ac)
                        theta = float(np.partition(sums, udq.size - kk)[udq.size - kk])
            if not parts:
                return empty_pdf
            return _fold_topk(parts, keys)

        def score_range_and(pdf: pd.DataFrame) -> pd.DataFrame:
            rng = int(pdf["rng"].iloc[0])
            lo, hi = rng * R, (rng + 1) * R
            by_term = {int(tid): g for tid, g in pdf.groupby("term_id")}
            cands = None
            decoded: dict[int, tuple] = {}
            for gi in group_proc_order:
                tids = [t for t in gid_terms[gi] if t in by_term]
                gdocs = []
                for tid in sorted(tids, key=lambda t: df_map[t]):
                    if tid not in decoded:
                        g = by_term[tid]
                        if cands is not None:
                            if cands.size == 0:
                                return empty_pdf
                            g = g[_overlapping(cands, g)]
                            if len(g) == 0:
                                decoded[tid] = (
                                    np.zeros(0, dtype=np.int64),
                                    np.zeros(0, dtype=np.float64),
                                )
                                continue
                        d, contrib = _decode_group(g, lo, hi, tid)
                        if cands is not None and d.size:
                            mb = _member(cands, d)
                            d, contrib = d[mb], contrib[mb]
                        decoded[tid] = (d, contrib)
                    gdocs.append(decoded[tid][0])
                gd = (
                    np.unique(np.concatenate(gdocs))
                    if gdocs else np.zeros(0, dtype=np.int64)
                )
                if gd.size == 0:
                    return empty_pdf
                cands = gd if cands is None else np.intersect1d(
                    cands, gd, assume_unique=True
                )
                if cands.size == 0:
                    return empty_pdf
            # score: every (group, matched-term) pair over the surviving docs
            parts, keys = [], []
            for gi, tids in enumerate(gid_terms):
                for tid in tids:
                    d, contrib = decoded.get(
                        tid, (np.zeros(0, dtype=np.int64), np.zeros(0))
                    )
                    if d.size == 0:
                        continue
                    mb = _member(cands, d)
                    d, contrib = d[mb], contrib[mb]
                    if d.size == 0:
                        continue
                    parts.append((d, contrib))
                    keys.append((
                        np.full(d.size, gi, dtype=np.int64),
                        np.full(d.size, t_ord[tid], dtype=np.int64),
                    ))
            if not parts:
                return empty_pdf
            return _fold_topk(parts, keys)

        fn = score_range_and if conjunctive else score_range_or
        # explicit range repartition: see positions_chain — stops AQE from
        # coalescing the tiny block shuffle into a near-serial Python stage
        scored = blocks.repartition(n_ranges, "rng").groupBy("rng").applyInPandas(
            fn, schema="doc_id long, score double"
        )
        if kk is None:
            return scored
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(kk)

    def score_and(self, terms: list[str], k: int | None = None) -> DataFrame:
        """Conjunctive BooleanQuery (all MUST clauses): only docs containing
        EVERY query term, scored as the same per-term BM25 sum. Token-level
        AND-semantics analog of SpanQueryAnd at the doc level.

        Physical strategy: _range_scores(conjunctive=True) — the rarest term
        drives; a stop-word MUST clause decodes only blocks overlapping the
        rare term's docs (the FiSeq anchor-then-verify insight at doc level)."""
        return self._cached(
            ("score_and", tuple(sorted(set(terms))), k),
            lambda: self._score_and(terms, k),
        )

    def _score_and(self, terms: list[str], k: int | None = None) -> DataFrame:
        uniq = sorted(set(terms))
        tinfo = self.lookup_terms(uniq)
        if len(tinfo) < len(uniq):  # a missing term empties the conjunction
            return self.spark.createDataFrame([], "doc_id long, score double")
        if len(tinfo) == 1:
            decoded = self._decoded_scores(tinfo, k_hint=k)
            return decoded.select("doc_id", F.col("contrib").alias("score"))
        return self._range_scores(tinfo, k, conjunctive=True)

    def score_and_groups(
        self, groups: list[list[str]], k: int | None = None
    ) -> DataFrame:
        """Conjunction of OR-groups — a BooleanQuery whose MUST clauses may be
        multi-term expansions (wildcard/regex atoms). A doc must match ≥1 term
        of EVERY group; the score sums the BM25 of every (group, matched-term)
        pair, so a term shared by two clauses contributes once per clause —
        Lucene's per-clause scoring. Runs on the doc-range scorer: the rarest
        clause's docs drive candidate pruning of every other clause's blocks."""
        return self._cached(
            ("score_and_groups", tuple(tuple(sorted(set(g))) for g in groups), k),
            lambda: self._score_and_groups(groups, k),
        )

    def _score_and_groups(
        self, groups: list[list[str]], k: int | None = None
    ) -> DataFrame:
        empty = self.spark.createDataFrame([], "doc_id long, score double")
        if not groups:
            return empty
        flat = sorted({t for g in groups for t in g})
        tinfo = self.lookup_terms(flat)
        present = set(tinfo["term"])
        resolved = [sorted(set(g) & present) for g in groups]
        if any(not g for g in resolved):  # an empty clause empties the AND
            return empty
        if all(len(g) == 1 for g in resolved):
            seen = {g[0] for g in resolved}
            if len(seen) == len(resolved):  # plain term conjunction
                return self.score_and(sorted(seen), k=k)
        used = sorted({t for g in resolved for t in g})
        return self._range_scores(
            tinfo[tinfo["term"].isin(used)], k, conjunctive=True, groups=resolved
        )

    def search_and(self, terms: list[str], k: int = 10) -> DataFrame:
        return (
            self.score_and(terms, k=k)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def score_phrase(self, terms: list[str]) -> DataFrame:
        """Exact adjacent phrase (SpansSequence analog, /root/reference/engine/
        src/main/java/nl/inl/blacklab/search/lucene/SpanQuerySequence.java):
        per-doc intersection of slot-shifted position lists via JVM-native
        array_intersect (whole-stage codegen — no Python in the hot path),
        joined RAREST TERM FIRST (the ClauseCombinerNfa cost-ordering insight:
        the smallest posting list drives every subsequent inner join).
        Scoring: Lucene PhraseQuery — idf = sum of member idfs (duplicates
        kept), tf = phrase frequency, same BM25 saturation, exact dl."""
        return self._cached(
            ("score_phrase", tuple(terms)),
            lambda: self._score_phrase(terms),
        )

    def _score_phrase(self, terms: list[str]) -> DataFrame:
        empty = self.spark.createDataFrame([], "doc_id long, score double")
        if not terms:
            return empty
        tinfo = self.lookup_terms(terms)
        present = set(tinfo["term"])
        if any(t not in present for t in terms):
            return empty
        info_by_term = {r.term: r for r in tinfo.itertuples()}
        idf_sum = np.float64(0.0)
        for t in terms:  # phrase idf: duplicates kept, phrase order
            idf_sum += np.float64(scoring.idf(self.n_docs, int(info_by_term[t].df)))
        idf_sum = float(idf_sum)
        avgdl = self.avgdl

        # r4: the doc-range co-located chain kernel — one shuffle of the
        # phrase terms' compressed blocks, partition-local rarest-first
        # intersect with candidate block skipping; replaces the per-slot
        # array_intersect JOINs (which shuffled decoded position arrays)
        chain = self.positions_chain(
            [([t], i) for i, t in enumerate(terms)], with_dl=True
        )
        ptf = chain.select("doc_id", "dl", F.size("positions").alias("tf"))
        # closed-form BM25 expression, op-ordered to match scoring.bm25 bitwise
        norm = F.lit(scoring.K1) * (
            F.lit(1.0 - scoring.B)
            + F.lit(scoring.B) * F.col("dl").cast("double") / F.lit(avgdl)
        )
        score = (
            F.lit(idf_sum) * F.col("tf").cast("double")
            / (F.col("tf").cast("double") + norm)
        )
        return ptf.select("doc_id", score.alias("score"))

    def search_phrase(self, terms: list[str], k: int = 10) -> DataFrame:
        return (
            self.score_phrase(terms)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def enable_search_cache(self, max_entries: int = 64) -> "Corpus":
        """Turn on the plan-keyed result cache (the SearchCache analog,
        /root/reference/engine/src/main/java/nl/inl/blacklab/searches/
        SearchCache.java; doc/technical/blacklab-internals.md:154-184).

        Repeated identical queries — the BLS serving workload — get the
        persisted result back instead of replanning + rescanning. Keys are
        the NORMALIZED plan (rewrite-fixpoint AST repr), so syntactic
        variants of one plan share an entry; the key also pins the index
        version (n_docs, n_segments), so results never leak across appends
        (a fresh Corpus sees a fresh version). LRU-bounded; evicted entries
        are unpersisted. Like preload(), cached results are a point-in-time
        snapshot."""
        from blacklab_spark.plans.cql import PlanCache

        if getattr(self, "_search_cache", None) is None:
            self._search_cache = PlanCache(max_entries)
        return self

    def _index_version(self) -> tuple:
        return (self.meta["n_docs"], self.meta.get("n_segments", 1))

    def _cached(self, subkey: tuple, build):
        """Route a scoring-path plan through the SearchCache when enabled —
        the reference caches EVERY Search subclass result (SearchCache.java
        keys on the whole Search tree, not just pattern finds), so the BM25
        search/score paths are keyed on (kind, terms, k) here."""
        cache = getattr(self, "_search_cache", None)
        if cache is None:
            return build()
        return cache.get_or_build_key(
            self.paths.root, self._index_version(), subkey, build
        )

    def find_cql(self, query: str) -> DataFrame:
        """BCQL subset → span DataFrame (doc_id, start, end [, captures]);
        see blacklab_spark.plans.cql for the supported grammar."""
        from blacklab_spark.plans.cql import find_cql

        cache = getattr(self, "_search_cache", None)
        if cache is None:
            return find_cql(self, query)
        return cache.get_or_build(
            self.paths.root, self._index_version(), query,
            lambda: find_cql(self, query),
        )

    def count_hits(self, query: str, max_count: int | None = None) -> DataFrame:
        """Hit count for a BCQL query with the reference's maxHitsToCount
        contract (SearchSettings.java): capped counts stop early and report
        (min(n, cap), is_lower_bound) — the "≥N" a serving UI shows for
        expensive queries. Uncapped = exact count, flag 0."""
        from blacklab_spark.operators.grouping import capped_count

        hits_df = self.find_cql(query)
        if max_count is None:
            return hits_df.agg(
                F.count("*").alias("n_hits"),
                F.lit(0).alias("is_lower_bound"),
            )
        return capped_count(hits_df, max_count)

    def hits_page(
        self,
        query: str,
        *,
        sort: list | None = None,
        group_by: str | None = None,
        first: int = 0,
        number: int = 20,
        context: int | None = None,
        max_process: int | None = None,
        max_count: int | None = None,
    ) -> "HitsPage":
        """Serving facade pairing BOTH per-request caps like the reference's
        SearchSettings (engine/.../search/results/SearchSettings.java:
        maxHitsToProcess + maxHitsToCount travel together on every search):

          * sort / group / KWIC see at most `max_process` hits — the
            reference stops RETRIEVING past that cap (first-N semantics,
            an unordered limit here), and any statistic derived from them
            is an ESTIMATE once the cap bites;
          * counting is independently capped by `max_count` and reports a
            lower bound (the "≥N" a UI shows) without scanning every hit.

        Returns a HitsPage: `.hits` = the requested window (sorted, with
        left/match/right context columns when `context` is given),
        `.groups` = per-key hit counts over the processed hits (None when
        group_by is None), `.summary` = ONE row
        (n_processed, processed_is_estimate, n_counted, count_is_lower_bound).
        Both cap probes compile to CollectLimit — a runaway query costs
        O(cap), not O(hits)."""
        from blacklab_spark.operators import grouping as G

        hits_df = self.find_cql(query)
        processed = (
            G.process_window(hits_df, max_process)
            if max_process is not None else hits_df
        )
        if max_process is not None:
            pc = G.capped_count(hits_df, max_process).select(
                F.col("n_hits").alias("n_processed"),
                F.col("is_lower_bound").alias("processed_is_estimate"),
            )
        else:
            pc = hits_df.agg(
                F.count("*").alias("n_processed"),
                F.lit(0).alias("processed_is_estimate"),
            )
        if max_count is not None:
            cc = G.capped_count(hits_df, max_count).select(
                F.col("n_hits").alias("n_counted"),
                F.col("is_lower_bound").alias("count_is_lower_bound"),
            )
        else:
            cc = hits_df.agg(
                F.count("*").alias("n_counted"),
                F.lit(0).alias("count_is_lower_bound"),
            )
        summary = pc.crossJoin(cc)
        groups = None
        if group_by is not None:
            groups = processed.groupBy(group_by).agg(
                F.count("*").alias("n_hits")
            )
        order = sort or [F.asc("doc_id"), F.asc("start"), F.asc("end")]
        page = G.hits_window(processed, order, first, number)
        if context is not None:
            # KWIC joins only the page (≤ number rows), then the tiny result
            # is re-ordered — the join itself does not preserve sort order
            page = G.kwic_spans(page, self.docs, context).orderBy(*order)
        return HitsPage(hits=page, groups=groups, summary=summary)

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Parse a query string (mini-BCQL: terms / quoted phrase / /regex/)
        and run top-k BM25."""
        q = parse_query(query)
        if isinstance(q, PhraseQuery):
            return self.search_phrase(q.terms, k=k)
        assert isinstance(q, (OrQuery, AndQuery))
        # each atom is ONE clause; a wildcard/regex atom expands to a
        # multi-term clause (Lucene BooleanQuery semantics: the expansion is
        # OR-ed inside the clause, not flattened into sibling MUST clauses)
        clauses: list[list[str]] = []
        for t in q.terms:
            clauses.append(self.expand_pattern(t.pattern) if t.regex else [t.pattern])
        if isinstance(q, AndQuery):
            return (
                self.score_and_groups(clauses, k=k)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        return self.search_or([t for c in clauses for t in c], k=k)
