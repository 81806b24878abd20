"""Index build pipeline — Spark-first re-expression of BlackLab's index build.

Reference analogs (what each stage computes, not how):
  * tokenize + positions     ≈ AnnotationWriter.addValue position tracking
    (/root/reference/engine/src/main/java/nl/inl/blacklab/index/annotated/AnnotationWriter.java:267-291)
  * per-term posting blocks  ≈ BlackLabPostingsWriter.write() field→term→doc walk
    (/root/reference/engine/src/main/java/nl/inl/blacklab/codec/BlackLabPostingsWriter.java:155-236)
  * shuffle merge on term    ≈ BlackLab's custom segment merge
    (/root/reference/engine/src/main/java/nl/inl/blacklab/codec/BlackLabPostingsWriter.java:96-130)
  * exact doc lengths        ≈ contents%length_tokens numeric field
    (/root/reference/engine/src/main/java/nl/inl/blacklab/search/indexmetadata/AnnotatedField.java:38-40)
  * docs table (tokens col)  ≈ the forward index + content store in one columnar table
    (/root/reference/doc/technical/index-formats/integrated.md:170-258,333-397)

Scale design (10^12 turns): every stage is partition-local except TWO keyed
shuffles — (term, doc_id) partial-agg for tf/positions (map-side combine via
Spark partial aggregation) and the term-keyed posting merge. High-DF terms are
explicitly salted by docID range so no single reducer owns a stop-word's full
posting list; salt boundaries == block boundaries, so delta decode restarts per
salted sub-list and the merged result is identical to the unsalted one (the
reference's analogous skew fix is greedy segment bin-packing,
/root/reference/engine/src/main/java/nl/inl/blacklab/search/results/hits/Parallel.java:42-67).

Resumability: each stage writes its output + a _checkpoints/<stage>.json marker
with lineage and metrics; build_index(resume=True) skips completed stages.
A per-partition manifest table records postings written / bytes compressed /
docs indexed (the north_rule lineage+metrics contract).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blacklab_spark import codecs, scoring
from blacklab_spark.docmap import assign_dense_ids
from blacklab_spark.tokenizer import (
    FOLD_VERSION,
    TOKEN_PATTERN,
    tokenize_series,
    tokenize_series_with_offsets,
)

SCHEMA_VERSION = 1

POSTINGS_SCHEMA = T.StructType([
    T.StructField("term_id", T.LongType()),
    T.StructField("block_no", T.LongType()),
    T.StructField("first_doc_id", T.LongType()),
    T.StructField("last_doc_id", T.LongType()),
    T.StructField("num_docs", T.IntegerType()),
    T.StructField("doc_gaps", T.BinaryType()),
    T.StructField("tfs", T.BinaryType()),
    T.StructField("dls", T.BinaryType()),
    T.StructField("positions", T.BinaryType()),
    T.StructField("block_max_tf", T.IntegerType()),
    T.StructField("block_max_score", T.DoubleType()),
])


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def term_dict(self) -> str:
        return os.path.join(self.root, "term_dict")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")

    @property
    def meta(self) -> str:
        return os.path.join(self.root, "_meta.json")

    @property
    def checkpoints(self) -> str:
        return os.path.join(self.root, "_checkpoints")

    def marker(self, stage: str) -> str:
        return os.path.join(self.checkpoints, f"{stage}.json")


def _stage_done(paths: IndexPaths, stage: str, output: str | None) -> bool:
    if not os.path.exists(paths.marker(stage)):
        return False
    return output is None or os.path.exists(output)


def _mark_stage(paths: IndexPaths, stage: str, started: float, **info) -> None:
    os.makedirs(paths.checkpoints, exist_ok=True)
    payload = {
        "stage": stage,
        "started_ts": started,
        "finished_ts": time.time(),
        "wall_sec": time.time() - started,
        **info,
    }
    with open(paths.marker(stage), "w") as f:
        json.dump(payload, f, indent=2, default=str)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _tokenize_udf(texts: pd.Series) -> pd.Series:
    return tokenize_series(texts)


_TFPOS_SCHEMA = (
    "doc_id long, dl int, term string, tf int, pos_enc binary"
)


def _term_counts_batches(batches):
    """docs(doc_id, dl, tokens) -> (doc_id, dl, term, tf, pos_enc) Arrow batches.

    Fully map-side (NO shuffle): a term's positions within one doc live in
    one row. Arrow-native end to end — terms are dictionary-encoded in C++
    (no Python string objects), and each (doc, term) group's positions are
    encoded by codecs.encode_positions_column as one zero-copy Arrow binary
    column per batch. The reference's analog is
    AnnotationWriter's per-doc position tracking
    (/root/reference/engine/src/main/java/nl/inl/blacklab/index/annotated/AnnotationWriter.java:267-291).
    """
    import numpy as np
    import pyarrow as pa

    for rb in batches:
        toks = rb.column(rb.schema.get_field_index("tokens"))
        if isinstance(toks, pa.ChunkedArray):
            toks = toks.combine_chunks()
        n_rows = len(toks)
        if n_rows == 0:
            continue
        loffs = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        loffs = loffs - loffs[0]
        lengths = np.diff(loffs)
        if pa.types.is_list(toks.type.value_type):
            # MULTI-VALUE positions (array<array<string>>): the OUTER index
            # is the token position, every value in the inner list is
            # indexed AT that position — the reference's position-increment-
            # 0 synonym indexing (AnnotationWriter.java:267-291; the
            # "The|DOH|ZZZ" TestIndex fixture, TestIndex.java:102-106).
            inner = toks.flatten()  # list<string>, one entry per position
            ioffs = inner.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            ioffs = ioffs - ioffs[0]
            vcounts = np.diff(ioffs)  # values per position
            total = int(vcounts.sum())
            if total == 0:
                continue
            flat = inner.flatten()
            n_outer = len(inner)
            row_per_elem = np.repeat(np.arange(n_rows), lengths)
            pos_per_elem = np.arange(n_outer) - np.repeat(loffs[:-1], lengths)
            row_idx = np.repeat(row_per_elem, vcounts)
            pos = np.repeat(pos_per_elem, vcounts)
        else:
            total = int(lengths.sum())
            if total == 0:
                continue
            flat = toks.flatten()
            row_idx = np.repeat(np.arange(n_rows), lengths)
            pos = np.arange(total) - np.repeat(loffs[:-1], lengths)
        # dictionary_encode = Arrow-native factorize (C++, no Python objects)
        denc = flat.dictionary_encode()
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        dictionary = denc.dictionary

        order = np.lexsort((pos, codes, row_idx))
        r, c, p = row_idx[order], codes[order], pos[order]
        new_grp = np.concatenate(([True], (r[1:] != r[:-1]) | (c[1:] != c[:-1])))
        starts = np.flatnonzero(new_grp)
        ends = np.concatenate((starts[1:], [total]))
        tf = (ends - starts).astype(np.int32)

        doc_ids = rb.column(rb.schema.get_field_index("doc_id")).to_numpy(
            zero_copy_only=False
        )[r[starts]]
        dls = rb.column(rb.schema.get_field_index("dl")).to_numpy(
            zero_copy_only=False
        )[r[starts]]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, pa.int64()),
                pa.array(dls.astype(np.int32), pa.int32()),
                dictionary.take(pa.array(c[starts])),
                pa.array(tf, pa.int32()),
                codecs.encode_positions_column(p, tf),
            ],
            names=["doc_id", "dl", "term", "tf", "pos_enc"],
        )


def build_postings_frame(
    tfpos,
    term_dict,
    *,
    num_partitions: int,
    salt_df_threshold: int,
    docs_per_salt: int,
    block_size: int,
    n_docs: int,
    avgdl: float,
):
    """The postings stage as a DataFrame (everything up to the parquet
    write), factored out so tests can assert the physical plan shape —
    exactly ONE exchange carries the position payload at any vocabulary
    size (see the stage comments below)."""
    # r7 big-vocab restructure (guide §2.4/§3.3 + VERDICT r6 "wrong #1"):
    # the old plan joined the position payload with term_dict on `term`
    # FIRST and then repartitioned by (term_id, salt).  At bench
    # vocabulary AQE broadcasts term_dict and only the repartition moves
    # the heavy pos_enc bytes; at a real 100-TB vocabulary (too big to
    # broadcast) that join becomes sort-merge and the payload crosses
    # the wire TWICE.  Now the payload's ONE exchange is keyed directly
    # on (term, salt):
    #   * salt needs only HOT-term membership (df > threshold), a set
    #     bounded by construction at sum(df)/threshold — pick the
    #     threshold so it broadcasts (at the default 10k, a 10^13-token
    #     corpus has at most 10^9 and realistically ~10^5 hot terms);
    #     it is attached by an explicit broadcast left join, so the
    #     plan shape no longer depends on the auto-broadcast threshold;
    #   * term_id/df bind AFTER the exchange through a co-partitioned
    #     SHUFFLED-HASH join: term_dict is exploded to one row per
    #     (term, salt) bucket (cold terms → salt 0 only; hot terms →
    #     every salt), so both sides repartition on the SAME
    #     (term, salt) key and the join adds no exchange; the exploded
    #     dict is payload-free (|cold| + |hot|·n_salts short rows).
    # Salting still bounds every group at ~docs_per_salt postings, so
    # no collect_list group and no task is ever one stop word's full
    # posting list.  Postings content is byte-identical (same groups,
    # same per-group rows — pinned by the parity check in
    # tests/test_r07_optimizations.py and the determinism suite).
    n_salts = max((n_docs - 1) // docs_per_salt + 1, 1)
    hot_terms = term_dict.filter(
        F.col("df") > F.lit(salt_df_threshold)
    ).select("term", F.lit(True).alias("_hot"))
    salted = (
        tfpos.join(F.broadcast(hot_terms), "term", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_hot"),
                (F.col("doc_id") / F.lit(docs_per_salt)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("_hot")
    )
    td_by_salt = term_dict.select("term", "term_id", "df").withColumn(
        "salt",
        F.explode(
            F.when(
                F.col("df") > F.lit(salt_df_threshold),
                F.sequence(
                    F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long")
                ),
            ).otherwise(F.array(F.lit(0).cast("long")))
        ),
    )

    blocks_per_salt = docs_per_salt // block_size + 1
    bs = block_size
    nd = n_docs
    ad = avgdl
    colnames = [f.name for f in POSTINGS_SCHEMA.fields]

    def encode_partition(batches):
        """Encode pre-grouped (term_id, salt, df, plist) rows into
        posting blocks.

        r7 (guide §4.1/§4.2): the input is ONE ROW PER (term, salt)
        GROUP with the group's doc-sorted postings as a
        list<struct<doc_id,tf,dl,pos_enc>> payload — the JVM groupBy +
        sort_array replaces the old row-level repartition+sort, and the
        JVM→Python Arrow conversion handles ~10k list rows instead of
        ~13M flat rows (measured 6s → 0.3s at sf1: Spark's row→Arrow
        writer cost is per-ROW, so crossing the boundary with grouped
        payloads removes the dominant postings-stage cost). Each batch's
        groups are encoded in one codecs.encode_block_batch call; only
        block_no (salt * blocks_per_salt + block index within the group)
        is assigned here. A group never straddles a batch (it is one
        row), so no carry-over logic is needed."""
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tid_g = rb.column("term_id").to_numpy(zero_copy_only=False)
            salt_g = rb.column("salt").to_numpy(zero_copy_only=False)
            df_g = rb.column("df").to_numpy(zero_copy_only=False)
            plist = rb.column("plist")
            if isinstance(plist, pa.ChunkedArray):
                plist = plist.combine_chunks()
            flat = plist.flatten()  # struct values, list-sliced
            loffs = plist.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            # per-group idf (scoring.idf op order, elementwise float64)
            df_f = df_g.astype(np.float64)
            idf_g = np.log(
                np.float64(1.0)
                + (np.float64(nd) - df_f + np.float64(0.5))
                / (df_f + np.float64(0.5))
            )
            grp, in_grp, cols = codecs.encode_block_batch(
                loffs - loffs[0],
                flat.field("doc_id").to_numpy(zero_copy_only=False),
                flat.field("tf").to_numpy(zero_copy_only=False),
                flat.field("dl").to_numpy(zero_copy_only=False),
                flat.field("pos_enc"),
                idf_g, ad, bs,
            )
            cols["term_id"] = pa.array(tid_g[grp], pa.int64())
            cols["block_no"] = pa.array(
                salt_g[grp] * np.int64(blocks_per_salt) + in_grp, pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [cols[c] for c in colnames], names=colnames
            )

    # r7 plan shape (guide §2.4/§4.1): exactly ONE exchange carries the
    # position bytes — the explicit (term, salt) repartition — at EVERY
    # vocabulary size (the old plan re-shuffled the payload after a
    # sort-merge dict join once the vocabulary outgrew the broadcast
    # threshold).  The co-partitioned shuffled-hash join binds
    # term_id/df without moving the payload again (its own exchange
    # ships only the exploded dict's short rows), and the groupBy
    # reuses the join's (term, salt) partitioning outright.
    # sort_array orders each group's postings by doc_id JVM-side (struct
    # comparison: doc_id is the first field and unique per group);
    # sortWithinPartitions orders the ~hundreds of GROUP rows per
    # partition so blocks land term_id-ascending within every file and
    # parquet min/max row-group stats keep pruning term lookups.
    return (
        salted.select("term", "salt", "doc_id", "tf", "dl", "pos_enc")
        .repartition(num_partitions, "term", "salt")
        .join(
            td_by_salt.repartition(num_partitions, "term", "salt")
            .hint("shuffle_hash"),
            ["term", "salt"],
        )
        .groupBy("term", "salt")
        .agg(
            F.first("term_id").alias("term_id"),
            F.first("df").alias("df"),
            F.sort_array(
                F.collect_list(F.struct("doc_id", "tf", "dl", "pos_enc"))
            ).alias("plist"),
        )
        .select("term_id", "salt", "df", "plist")
        .sortWithinPartitions("term_id", "salt")
        .mapInArrow(encode_partition, schema=POSTINGS_SCHEMA)
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    path: str,
    *,
    doc_key: tuple[str, str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    block_size: int = codecs.DEFAULT_BLOCK_SIZE,
    salt_df_threshold: int = 100_000,
    docs_per_salt: int = 1 << 20,
    resume: bool = False,
    store_offsets: bool = False,
) -> IndexPaths:
    """Build the full inverted index at `path` from a transcripts DataFrame.

    transcripts: any DataFrame containing the doc_key columns plus `text`;
    extra columns (role, tool, ts, ...) are carried into the docs table as
    metadata fields (the reference's doc metadata analog).

    store_offsets=True additionally stores per-token [start, end) CHAR
    offsets into the raw text (tok_starts / tok_ends int arrays beside
    tokens) — the content-store token→character map the reference uses for
    punctuation-faithful concordances (Kwics + content store). Only valid
    when tokenizing from `text` (pre-tokenized input has no offsets).
    ~8 bytes/token of extra parquet; the hot query paths never read it.

    Pre-tokenized input: if the frame already has a `tokens` array<string>
    column it is indexed AS IS (no tokenizer pass) — the path annotation
    layers (lemma/pos) and token-aligned formats (CoNLL-U) use. An
    array<array<string>> tokens column indexes every inner value at the
    outer position (multi-value / synonym positions). compact_index
    rebuilds from the STORED tokens, so compaction is exact for every
    index type.
    """
    paths = IndexPaths(path)
    if not resume and os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(paths.checkpoints, exist_ok=True)
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # ---------------- stage: docs (docmap + tokenize + forward index) ------
    # Fused single pass: one range shuffle sorts rows globally by doc_key;
    # partition row-counts (a cheap cached count) give each partition its
    # docID offset; ONE mapInPandas then assigns dense ids AND tokenizes.
    # No window exchange (the old hash(_pid) window skewed ~3x with
    # n_groups == n_partitions), no second pass over the text.
    if not _stage_done(paths, "docs", paths.docs):
        t0 = time.time()
        import numpy as np
        from pyspark import TaskContext

        ranged = (
            transcripts.repartitionByRange(num_partitions, *doc_key)
            .sortWithinPartitions(*doc_key)
            .persist()
        )
        counts = {
            r["_pid"]: r["cnt"]
            for r in ranged.groupBy(F.spark_partition_id().alias("_pid"))
            .agg(F.count("*").alias("cnt")).collect()
        }
        offsets = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        n_docs = acc
        bc_offsets = spark.sparkContext.broadcast(offsets)

        pretokenized = "tokens" in transcripts.columns
        if store_offsets and pretokenized:
            raise ValueError(
                "store_offsets needs raw `text` input — pre-tokenized "
                "frames carry no character offsets"
            )
        # array<array<string>> input = MULTI-VALUE positions: outer index is
        # the token position, inner lists are the values indexed there
        # (position-increment-0 synonyms). The docs table keeps the MAIN
        # (first) value per position as `tokens` — the forward-index view
        # KWIC/constraints read, like the reference's forward index shows
        # the main value — plus the full `tokens_mv` for the postings pass.
        multivalue = pretokenized and isinstance(
            transcripts.schema["tokens"].dataType.elementType, T.ArrayType
        )
        out_schema = T.StructType(
            [f for f in transcripts.schema.fields if f.name != "tokens"]
            + [
                T.StructField("doc_id", T.LongType()),
                T.StructField("tokens", T.ArrayType(T.StringType())),
                T.StructField("dl", T.IntegerType()),
            ]
            + (
                [T.StructField(
                    "tokens_mv",
                    T.ArrayType(T.ArrayType(T.StringType())),
                )]
                if multivalue else []
            )
            + (
                [
                    T.StructField("tok_starts", T.ArrayType(T.IntegerType())),
                    T.StructField("tok_ends", T.ArrayType(T.IntegerType())),
                ]
                if store_offsets else []
            )
        )

        def assign_and_tokenize(batches):
            pid = TaskContext.get().partitionId()
            base = bc_offsets.value.get(pid, 0)
            seen = 0
            for pdf in batches:
                extra = {}
                if multivalue:
                    mv = pdf.pop("tokens").map(
                        lambda lists: [list(x) for x in lists]
                    )
                    # an empty inner list (a position with NO value) would
                    # crash below with an opaque executor IndexError; fail
                    # with the offending doc key instead
                    bad = mv.map(
                        lambda lists: any(len(x) == 0 for x in lists)
                    )
                    if bad.any():
                        row = pdf[bad.values].iloc[0]
                        keys = {
                            k: row[k] for k in pdf.columns
                            if k in ("conv_id", "turn_idx")
                        }
                        raise ValueError(
                            "multi-value tokens contain an EMPTY value list "
                            f"(a position with no values) in doc {keys}; "
                            "every position must carry >= 1 value"
                        )
                    toks = mv.map(lambda lists: [x[0] for x in lists])
                    extra["tokens_mv"] = mv
                elif pretokenized:
                    toks = pdf.pop("tokens").map(list)
                elif store_offsets:
                    toks, starts, ends = tokenize_series_with_offsets(
                        pdf["text"]
                    )
                    extra["tok_starts"] = starts
                    extra["tok_ends"] = ends
                else:
                    toks = tokenize_series(pdf["text"])
                pdf = pdf.assign(
                    doc_id=np.arange(seen, seen + len(pdf), dtype="int64") + base,
                    tokens=toks,
                    dl=toks.str.len().astype("int32"),
                    **extra,
                )
                seen += len(pdf)
                yield pdf

        docs = ranged.mapInPandas(assign_and_tokenize, schema=out_schema)
        docs.write.mode("overwrite").parquet(paths.docs)
        ranged.unpersist()
        _mark_stage(paths, "docs", t0, docs_indexed=n_docs)

    docs = spark.read.parquet(paths.docs)
    if store_offsets and "tok_starts" not in docs.columns:
        # resume=True skipped a docs stage written WITHOUT offsets — the
        # only stage that can produce them. Failing here beats a confusing
        # kwic_text error at query time on an index "built with" the flag.
        raise ValueError(
            "store_offsets=True but the existing docs stage (resume=True) "
            "was built without offsets — rebuild without resume"
        )

    # ---------------- stage: stats -----------------------------------------
    if not _stage_done(paths, "stats", None) or not os.path.exists(paths.meta):
        t0 = time.time()
        row = docs.agg(
            F.count("*").alias("n_docs"), F.sum("dl").alias("total_tokens")
        ).collect()[0]
        n_docs = int(row["n_docs"])
        total_tokens = int(row["total_tokens"] or 0)
        avgdl = float(total_tokens) / float(n_docs) if n_docs else 0.0
        meta = {
            "schema_version": SCHEMA_VERSION,
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl": avgdl,
            "k1": scoring.K1,
            "b": scoring.B,
            "block_size": block_size,
            "salt_df_threshold": salt_df_threshold,
            "docs_per_salt": docs_per_salt,
            "doc_key": list(doc_key),
            "tokenizer": TOKEN_PATTERN,
            "fold_version": FOLD_VERSION,
            # derived from the WRITTEN docs schema (not the argument), so
            # resumed/compacted/offset-bearing indexes self-describe and
            # add_to_index can match the delta build to the base
            "store_offsets": "tok_starts" in docs.columns,
        }
        with open(paths.meta, "w") as f:
            json.dump(meta, f, indent=2)
        _mark_stage(paths, "stats", t0, **{k: v for k, v in meta.items() if k != "tokenizer"})
    with open(paths.meta) as f:
        meta = json.load(f)
    avgdl = meta["avgdl"]
    n_docs = meta["n_docs"]

    # ---------------- stage: term/doc freq + positions ---------------------
    # Computed MAP-SIDE in one vectorized mapInPandas pass (a term's positions
    # within a doc live in one row — no (term, doc) shuffle is ever needed).
    # Deliberately NOT persisted: the pass is cheap and embarrassingly
    # parallel; caching 10^12-scale position lists would cost more in
    # serialization + memory pressure than recomputing the map stage for its
    # two consumers (measured: persist added ~10 s/480k turns and didn't scale).
    tok_src = (
        F.col("tokens_mv").alias("tokens")
        if "tokens_mv" in docs.columns else F.col("tokens")
    )
    tfpos = docs.select("doc_id", "dl", tok_src).mapInArrow(
        _term_counts_batches, schema=_TFPOS_SCHEMA
    )

    # ---------------- stage: term_dict --------------------------------------
    if not _stage_done(paths, "term_dict", paths.term_dict):
        t0 = time.time()
        # Term stats WITHOUT the Python tfpos pass (r6): df/cf only need
        # element counts, so two JVM-columnar explodes with map-side partial
        # aggregation (shuffle carries ~vocabulary rows, not postings) —
        # whole-stage codegen end to end. The expensive position-encoding
        # mapInArrow pass now runs exactly ONCE per build (postings stage);
        # before r6 it ran twice and capped build scaling (BENCH/
        # SCALING_r6_build_480k.md: term_dict stage eff 0.32).
        #   cf = total occurrences  = count of exploded (flattened) tokens
        #   df = docs containing    = count of exploded array_distinct
        # Multi-value: every inner value is indexed at its position, so
        # flatten() reproduces _term_counts_batches' per-value counting.
        flat_tok = (
            F.flatten("tokens_mv") if "tokens_mv" in docs.columns
            else F.col("tokens")
        )
        # (r7 note: a single-pass struct-explode variant — explode(concat(
        # transform(tokens, t→(t,1)), transform(array_distinct, t→(t,0))))
        # with one groupBy — was tried and measured 2-10x SLOWER than these
        # two codegen'd explodes: per-token struct construction defeats the
        # columnar explode fast path. Keeping the two-pass form.)
        cf_df = (
            docs.select(F.explode(flat_tok).alias("term"))
            .groupBy("term").agg(F.count("*").alias("cf"))
        )
        df_df = (
            docs.select(F.explode(F.array_distinct(flat_tok)).alias("term"))
            .groupBy("term").agg(F.count("*").alias("df"))
        )
        # persist the (small) per-term stats so assign_dense_ids' range
        # sampling pass doesn't recompute the scans
        term_stats = df_df.join(cf_df, "term").persist()
        term_dict, n_terms = assign_dense_ids(
            term_stats, ["term"], id_col="term_id",
            num_partitions=num_partitions, return_count=True,
        )
        term_dict.sortWithinPartitions("term").write.mode("overwrite").parquet(paths.term_dict)
        pers = getattr(term_dict, "_blx_persisted", None)
        if pers is not None:  # assign_dense_ids' range-partitioned cache
            pers.unpersist()
        meta["n_terms"] = n_terms
        with open(paths.meta, "w") as f:
            json.dump(meta, f, indent=2)
        term_stats.unpersist()
        _mark_stage(paths, "term_dict", t0, n_terms=n_terms)
    term_dict = spark.read.parquet(paths.term_dict)

    # ---------------- stage: postings (salted term-keyed merge) ------------
    if not _stage_done(paths, "postings", paths.postings):
        t0 = time.time()
        build_postings_frame(
            tfpos, term_dict,
            num_partitions=num_partitions,
            salt_df_threshold=salt_df_threshold,
            docs_per_salt=docs_per_salt,
            block_size=block_size,
            n_docs=n_docs,
            avgdl=avgdl,
        ).write.mode("overwrite").parquet(paths.postings)
        _mark_stage(paths, "postings", t0)

    # ---------------- stage: manifest (per-partition lineage + metrics) ----
    if not _stage_done(paths, "manifest", paths.manifest):
        t0 = time.time()
        written = spark.read.parquet(paths.postings)
        manifest = (
            written.withColumn("file", F.input_file_name())
            .groupBy("file")
            .agg(
                F.count("*").alias("blocks_written"),
                F.sum("num_docs").alias("postings_written"),
                (
                    F.sum(F.octet_length("doc_gaps"))
                    + F.sum(F.octet_length("tfs"))
                    + F.sum(F.octet_length("dls"))
                    + F.sum(F.octet_length("positions"))
                ).alias("bytes_compressed"),
                F.min("term_id").alias("min_term_id"),
                F.max("term_id").alias("max_term_id"),
            )
            .withColumn("docs_indexed", F.lit(n_docs))
            .withColumn("finished_ts", F.lit(time.time()))
        )
        manifest.write.mode("overwrite").parquet(paths.manifest)
        totals = spark.read.parquet(paths.manifest).agg(
            F.sum("postings_written"), F.sum("bytes_compressed"), F.sum("blocks_written")
        ).collect()[0]
        _mark_stage(
            paths, "manifest", t0,
            postings_written=int(totals[0] or 0),
            bytes_compressed=int(totals[1] or 0),
            blocks_written=int(totals[2] or 0),
        )

    return paths
