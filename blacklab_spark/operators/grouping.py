"""Result-level operators: sort/group/aggregate/sample/window/KWIC/collocations.

Spark-first re-expressions of the reference's results machinery (SURVEY.md §2.4):

  term_frequencies     ≈ TermFrequencyList (/root/reference/engine/src/main/java/
                         nl/inl/blacklab/search/TermFrequencyList.java:26)
  facets               ≈ DocProperty grouping / Facets (/root/reference/engine/
                         src/main/java/nl/inl/blacklab/search/results/stats/Facets.java)
  group_hits_by_meta   ≈ HitGroups / HitGroupsTokenFrequencies fast path
                         (/root/reference/engine/.../HitGroupsTokenFrequencies.java:50-56)
                         — computed straight from the forward index (the tokens
                         column), skipping hit materialization: explode+groupBy
                         is whole-stage-codegen native
  collocations         ≈ SearchCollocationsFromHits (/root/reference/engine/.../
                         searches/SearchCollocationsFromHits.java:14-33)
  kwic                 ≈ Kwics/Contexts (/root/reference/engine/.../hitresults/
                         Kwics.java:27-31) — slice(tokens) on the docs table
  sample_deterministic ≈ Hits.sample(SampleParameters) (/root/reference/engine/
                         .../results/SampleParameters.java:13-49) — ours is a
                         hash-mod sample so it is reproducible across engines,
                         partitionings, and cluster sizes (seeded rand() is not)
  hits_window          ≈ Hits.window pagination (/root/reference/engine/.../
                         searches/SearchHitsWindow.java)

All operate on the docs table (doc_id, tokens, dl, metadata...) — the
columnar forward index — so they scale as pure map+shuffle-agg plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def explode_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, term) token stream — the AnnotationWriter analog."""
    return docs.select("doc_id", F.posexplode("tokens").alias("pos", "term"))


def term_frequencies(docs: DataFrame) -> DataFrame:
    """(term, df, cf): document + collection frequency per term."""
    return (
        explode_tokens(docs)
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("cf"),
        )
    )


def facets(docs: DataFrame, meta_col: str) -> DataFrame:
    """Doc counts per metadata value (DocPropertyStoredField analog)."""
    return docs.groupBy(meta_col).agg(F.count("*").alias("n_docs"))


def hits(docs: DataFrame, term: str) -> DataFrame:
    """All occurrences of `term`: (doc_id, pos) — a BLSpanTermQuery over the
    forward index (length-1 spans; start==pos, end==pos+1)."""
    return explode_tokens(docs).filter(F.col("term") == term).select("doc_id", "pos")


def group_hits_by_meta_tf(tf: DataFrame, meta: DataFrame, meta_col: str) -> DataFrame:
    """Hit counts per metadata value from a per-doc (doc_id, tf) frame — the
    postings-backed HitGroups path (tf comes straight off the inverted index,
    no token scan)."""
    return (
        tf.join(meta.select("doc_id", meta_col), "doc_id")
        .groupBy(meta_col)
        .agg(F.sum("tf").alias("n_hits"), F.count("*").alias("n_docs"))
    )


def group_hits_by_meta(docs: DataFrame, term: str, meta_col: str) -> DataFrame:
    """Hit counts per metadata value (HitGroups on a DocProperty key)."""
    h = (
        explode_tokens(docs)
        .filter(F.col("term") == term)
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return group_hits_by_meta_tf(h, docs, meta_col)


# r7 (guide §3.1): the hit→forward-index joins below planned as
# SortMergeJoin (the hits side is Python-decoded, so the optimizer has no
# size estimate) — shuffling the WHOLE docs table's token arrays to join a
# few thousand hit rows (q_colloc plan: 2 Exchange + 2 Sort around the
# join). A capped count probes the hits side's true size; when it is small
# the hits are broadcast and the docs side is scanned in place — zero
# exchange on the heavy side. Above the cap (the "every hit of a stop
# word at 100 TB" case) the original shuffle join stands. 500k hit rows
# ≈ 25 MB broadcast.
_BROADCAST_HITS_CAP = 500_000


def _hits_for_docs_join(h: DataFrame) -> DataFrame:
    cap = _BROADCAST_HITS_CAP
    if cap <= 0:
        return h
    try:
        # a producer that KNOWS its output size (spans_terms: sum of cf)
        # already attached a broadcast hint — skip the runtime probe job
        if "ResolvedHint" in h._jdf.queryExecution().analyzed().toString():
            return h
    except Exception:
        pass
    if h.limit(cap + 1).count() <= cap:
        return F.broadcast(h)
    return h


def collocations_hits(h: DataFrame, docs: DataFrame, window: int = 2) -> DataFrame:
    """Context-word frequencies within ±window tokens of each hit, given a
    hits frame (doc_id, pos).

    Plan (SURVEY §2.4's prescription): join each hit to its doc's tokens and
    SLICE ±window around the hit, then explode the ≤2·window-token slices —
    bounded work per hit. The round-1 band join (hits × all doc tokens before
    the window filter) was per-doc quadratic for stop-word hits; this is not.
    """
    joined = _hits_for_docs_join(h).join(docs.select("doc_id", "tokens"), "doc_id")
    left_start = F.greatest(F.lit(1), F.col("pos") + 1 - window)
    left_len = F.col("pos") + 1 - left_start
    ctx = F.concat(
        F.slice("tokens", left_start, left_len),
        F.slice("tokens", F.col("pos") + 2, F.lit(window)),
    )
    return (
        joined.select(F.explode(ctx).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )


def collocations(docs: DataFrame, term: str, window: int = 2) -> DataFrame:
    """Context-word frequencies around each occurrence of `term`."""
    return collocations_hits(hits(docs, term), docs, window)


def kwic_hits(h: DataFrame, docs: DataFrame, context: int = 2) -> DataFrame:
    """KeyWord-In-Context rows for a hits frame: (doc_id, pos, left, match,
    right). Context words come from the tokens column (forward index), sliced
    with built-in array functions — no Python in the hot path."""
    joined = _hits_for_docs_join(h).join(
        docs.select("doc_id", "tokens"), "doc_id"
    )
    # slice() is 1-based; clamp the left edge at the doc start
    left_start = F.greatest(F.lit(1), F.col("pos") + 1 - context)
    left_len = F.col("pos") + 1 - left_start
    return joined.select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("tokens", left_start, left_len)).alias("left"),
        F.element_at("tokens", F.col("pos") + 1).alias("match"),
        F.concat_ws(
            " ", F.slice("tokens", F.col("pos") + 2, F.lit(context))
        ).alias("right"),
    )


def kwic(docs: DataFrame, term: str, context: int = 2) -> DataFrame:
    return kwic_hits(hits(docs, term), docs, context)


def kwic_spans(h: DataFrame, docs: DataFrame, context: int = 2) -> DataFrame:
    """KWIC for SPAN hits (doc_id, start, end[, ...]): multi-token matches
    render whole (Kwics builds context around the full hit extent,
    /root/reference/engine/src/main/java/nl/inl/blacklab/search/results/
    hitresults/Kwics.java:27-46). Adds left/match/right; keeps every other
    hit column (captures etc.). Same physical shape as kwic_hits: one
    doc-keyed join + built-in array slicing, no Python."""
    joined = _hits_for_docs_join(h).join(
        docs.select("doc_id", "tokens"), "doc_id"
    )
    left_start = F.greatest(F.lit(1), F.col("start") + 1 - context)
    left_len = F.col("start") + 1 - left_start
    keep = [c for c in h.columns if c != "doc_id"]
    return joined.select(
        "doc_id",
        *keep,
        F.concat_ws(" ", F.slice("tokens", left_start, left_len)).alias("left"),
        F.concat_ws(
            " ",
            F.slice("tokens", F.col("start") + 1, F.col("end") - F.col("start")),
        ).alias("match"),
        F.concat_ws(
            " ", F.slice("tokens", F.col("end") + 1, F.lit(context))
        ).alias("right"),
    )


def highlight_snippets(
    h: DataFrame, docs: DataFrame, context: int = 2,
    pre: str = "<<", post: str = ">>",
) -> DataFrame:
    """Plain-text hit highlighting: (doc_id, pos, snippet) with the matched
    token wrapped in pre/post markers inside its context window — the
    snippet/highlight surface (ResultDocSnippet / XmlHighlighter analog,
    /root/reference/wslib/src/main/java/nl/inl/blacklab/server/lib/results/
    ResultDocSnippet.java; transcripts carry no XML, so markers suffice)."""
    k = kwic_hits(h, docs, context)
    blank_null = lambda c: F.when(F.col(c) == "", None).otherwise(F.col(c))
    snippet = F.concat_ws(
        " ",
        blank_null("left"),
        F.concat(F.lit(pre), F.col("match"), F.lit(post)),
        blank_null("right"),
    )
    return k.select("doc_id", "pos", snippet.alias("snippet"))


def kwic_text(h: DataFrame, docs: DataFrame, context: int = 2) -> DataFrame:
    """Punctuation-faithful KWIC: left/match/right rendered as SUBSTRINGS of
    the retained raw `text` using the stored token char-offsets
    (build_index(store_offsets=True)) — the content-store role the reference
    serves from Kwics/Contexts + the punct annotation (engine/.../search/
    results/hitresults/Kwics.java:27-31; DocContentsFromForwardIndex), so
    original spacing/punctuation survive instead of single-space re-joins.

    h: span hits (doc_id, start, end). Output adds left/match/right plus
    `snippet` = the raw window with <<…>> around the match — an exact
    substring reconstruction, byte-identical to what a SQL substring over
    the same offsets produces. Context windows clamp at the doc edges; text
    before the first context token / after the last is not included (the
    window is token-addressed, like the reference's wordsaroundhit).
    Built-ins only (element_at/substring) — no Python in the hot path."""
    need = {"text", "tok_starts", "tok_ends"}
    if not need <= set(docs.columns):
        raise ValueError(
            "kwic_text needs docs columns text/tok_starts/tok_ends — "
            "build the index with store_offsets=True"
        )
    joined = _hits_for_docs_join(h).join(
        docs.select("doc_id", "text", "tok_starts", "tok_ends"), "doc_id"
    )
    cs = F.element_at("tok_starts", F.col("start") + 1)
    # zero-width hits (start == end, e.g. _lenfilter's keep-only-zero-length
    # or optional quantifiers) would index tok_ends at 0, which Spark
    # rejects at runtime (ADVICE r6); an empty match ends where it starts
    ce = F.when(
        F.col("end") > F.col("start"), F.element_at("tok_ends", F.col("end"))
    ).otherwise(cs)
    lt = F.greatest(F.col("start") - context, F.lit(0))
    lcs = F.element_at("tok_starts", lt + 1)
    rt = F.least(F.col("end") + context, F.size("tok_ends"))
    rce = F.when(rt >= 1, F.element_at("tok_ends", rt)).otherwise(F.lit(0))
    left = F.substring(F.col("text"), lcs + 1, cs - lcs)
    match = F.substring(F.col("text"), cs + 1, ce - cs)
    right = F.substring(F.col("text"), ce + 1, rce - ce)
    keep = [c for c in h.columns if c != "doc_id"]
    return joined.select(
        "doc_id",
        *keep,
        left.alias("left"),
        match.alias("match"),
        right.alias("right"),
        F.concat(
            left, F.lit("<<"), match, F.lit(">>"), right
        ).alias("snippet"),
    )


def sort_hits_by_context_hits(
    h: DataFrame, docs: DataFrame, offset: int = 1, limit: int | None = None
) -> DataFrame:
    """Hits sorted by a context-word property (HitPropertyAfterHit /
    HitPropertyBeforeHit analogs, /root/reference/engine/src/main/java/nl/inl/
    blacklab/resultproperty/HitPropertyAfterHit.java): the sort key is the
    token `offset` positions right (negative = left) of the hit, read from
    the forward index (tokens column). Fully specified order for determinism
    (context asc, doc_id, pos) — the reference pins sort the same way in its
    golden tests (/root/reference/test/test/hits.js:34)."""
    joined = _hits_for_docs_join(h).join(
        docs.select("doc_id", "tokens"), "doc_id"
    )
    idx = F.col("pos") + 1 + offset  # 1-based
    # NULL past either edge; Spark rejects index 0 even in try_element_at
    ctx = F.when(idx >= 1, F.try_element_at("tokens", idx)).otherwise(F.lit(None))
    out = (
        joined.select(
            "doc_id", "pos", F.coalesce(ctx, F.lit("")).alias("context")
        )
        .orderBy(F.asc("context"), F.asc("doc_id"), F.asc("pos"))
    )
    return out.limit(limit) if limit else out


def sort_hits_by_context(
    docs: DataFrame, term: str, offset: int = 1, limit: int | None = None
) -> DataFrame:
    return sort_hits_by_context_hits(hits(docs, term), docs, offset, limit)


def doc_results_hits(h: DataFrame, max_stored: int = 3) -> DataFrame:
    """Per-document hit grouping (DocResults.fromHits analog,
    /root/reference/engine/.../search/results/docs/DocResults.java:146):
    (doc_id, n_hits, first_positions[:max_stored]) for a hits frame."""
    return (
        h.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.slice(F.sort_array(F.collect_list("pos")), 1, max_stored).alias("first_positions"),
        )
    )


def doc_results(docs: DataFrame, term: str, max_stored: int = 3) -> DataFrame:
    return doc_results_hits(hits(docs, term), max_stored)


def capped_count(hits_df: DataFrame, max_count: int) -> DataFrame:
    """maxHitsToCount (SearchSettings, /root/reference/engine/src/main/java/
    nl/inl/blacklab/search/results/SearchSettings.java): stop counting at
    the cap and report a LOWER BOUND instead of scanning every hit. One row:
    (n_hits = min(true_n, cap), is_lower_bound) — "≥N" when capped, exact
    otherwise. Physical shape: limit(cap+1) + count compiles to
    CollectLimit — partitions stop producing once the limit is reached, so
    a runaway query costs O(cap), not O(hits), exactly the reference's
    per-request cap contract."""
    c = hits_df.limit(max_count + 1).agg(F.count("*").alias("_n"))
    return c.select(
        F.least(F.col("_n"), F.lit(max_count).cast("long")).alias("n_hits"),
        (F.col("_n") > max_count).cast("int").alias("is_lower_bound"),
    )


def process_window(hits_df: DataFrame, max_process: int) -> DataFrame:
    """maxHitsToProcess: downstream operators (sort/group/kwic) see at most
    this many hits — the reference stops RETRIEVING past the cap and marks
    later stats as estimates. An unordered limit takes the first hits
    encountered, matching the reference's first-N semantics."""
    return hits_df.limit(max_process)


def collation_key(col: str) -> F.Column:
    """BlackLab's INSENSITIVE collation key as a plain expression: lowercase
    + accent/digraph fold — the reference's desensitized collator is built
    to be "identical to lowercasing and stripping accents before calling
    String.equals()" (Collators.java:50-67), so sorting by
    (collation_key, term) reproduces its primary order with a deterministic
    raw-term tiebreak ('é' groups with 'e', not after 'z'; 'APE'/'ape'
    adjacent). Residual divergence from full ICU (COVERAGE.md): tertiary
    weights for exotic scripts, and the reference's "&' ' < '-' < '_'"
    dash/space rule — unreachable here because the tokenizer never emits
    space or dash inside a term. Computed at query time (Catalyst evaluates
    it during the scan — no stored column, no format change)."""
    from blacklab_spark.tokenizer import fold_sql

    return F.expr(fold_sql(f"lower({col})"))


def collation_key_sensitive(col: str) -> F.Column:
    """BlackLab's SENSITIVE collation key: ICU TERTIARY strength
    (Collators.java:20-40 — base letters, then diacritics, then case).
    Built as one SQL expression from the shared tokenizer tables
    (collation_sql_sensitive): primary/secondary/tertiary strings joined by
    chr(1), raw term tiebreak. Evaluated by Catalyst during the scan — no
    UDF, no stored column. UCA-approximation notes live on the generator."""
    from blacklab_spark.tokenizer import collation_sql_sensitive

    return F.expr(collation_sql_sensitive(col))


def term_listing(term_dict: DataFrame, k: int = 100,
                 sensitive: bool = False) -> DataFrame:
    """Collation-ordered term listing (the Terms.idToSortPosition /
    insensitive sort-position surface, /root/reference/engine/src/main/java/
    nl/inl/blacklab/forwardindex/Terms.java:46-77, TermsGlobal's ICU
    collator): top-k terms by (collation_key, term) with an explicit rank —
    the rank column makes the ORDER itself the checked value. Physical
    shape: orderBy+limit is TakeOrderedAndProject (bounded per-partition
    heaps, no global sort); the row_number window then runs over k rows
    driver-side-bounded, so the plan scales with k, not vocabulary.

    sensitive=True lists under the SENSITIVE (tertiary-strength) collator
    instead — the reference's TermsGlobal keeps BOTH sort positions per
    term (Terms.java:46-77, idToSortPosition(sensitivity))."""
    from pyspark.sql import Window

    key = collation_key_sensitive("term") if sensitive else collation_key("term")
    top = (
        term_dict.select(
            "term", key.alias("sort_key"), "df", "cf"
        )
        .orderBy(F.asc("sort_key"), F.asc("term"))
        .limit(k)
    )
    w = Window.orderBy(F.asc("sort_key"), F.asc("term"))
    return top.select(
        F.row_number().over(w).alias("rank"), "term", "sort_key", "df", "cf"
    )


def autocomplete(
    term_dict: DataFrame, prefix: str, k: int = 10,
    insensitive: bool = False,
) -> DataFrame:
    """Term autocompletion (BLS /autocomplete analog): prefix-matching terms
    by collection frequency desc, then collation order (r5: the tiebreak is
    the insensitive collation key + raw term, so accented completions sort
    with their base letter like the reference, not after 'z').

    insensitive=True matches the prefix under the INSENSITIVE collator
    (lowercase + accent/digraph fold on both sides — the reference
    autocompletes against the insensitive sort positions), so 'tabl'
    completes 'Tablé' and 'ij' completes 'ĳs'."""
    if insensitive:
        from blacklab_spark.tokenizer import fold_accents

        cond = collation_key("term").startswith(
            fold_accents(prefix.lower())
        )
    else:
        cond = F.col("term").startswith(prefix)
    return (
        term_dict.filter(cond)
        .select("term", "cf")
        .orderBy(F.desc("cf"), F.asc(collation_key("term")), F.asc("term"))
        .limit(k)
    )


def ngram_frequencies(docs: DataFrame, n: int = 2, meta_col: str | None = None) -> DataFrame:
    """Batch n-gram frequency lists (FrequencyTool analog, /root/reference/
    tools/src/main/java/nl/inl/blacklab/tools/frequency/FrequencyTool.java:60-64):
    word n-grams (joined with spaces), optionally crossed with a doc metadata
    column. Built-in transform+slice — no Python."""
    k = F.size("tokens") - (n - 1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice("tokens", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cols = ["ngram"] + ([meta_col] if meta_col else [])
    base = docs.select(
        *( [F.col(meta_col)] if meta_col else [] ), F.explode(grams).alias("ngram")
    )
    return base.groupBy(*cols).agg(F.count("*").alias("freq"))


def sessionize(events: DataFrame, user_col: str = "user_id", ts_col: str = "ts",
               gap_minutes: int = 30) -> DataFrame:
    """Sessionization: per-user sessions split at inactivity gaps >= gap.
    Window lag + cumulative sum of gap indicators — the batch equivalent of
    streaming session_window(ts, gap). Returns (user, session_id, n_events,
    session_start_epoch, session_end_epoch)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    marked = events.withColumn(
        "_new",
        F.when(
            F.unix_timestamp(ts_col)
            - F.unix_timestamp(F.lag(ts_col).over(w)) >= gap_minutes * 60,
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    ))
    return (
        marked.groupBy(F.col(user_col).alias("user_id"), "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_timestamp(F.min(ts_col)).alias("session_start_epoch"),
            F.unix_timestamp(F.max(ts_col)).alias("session_end_epoch"),
        )
    )


def group_hits_by_context_and_meta(
    h: DataFrame, docs: DataFrame, meta_col: str, offset: int = 1
) -> DataFrame:
    """Composite grouping key — context word at `offset` after the hit ×
    a document metadata field (HitPropertyMultiple analog, /root/reference/
    engine/src/main/java/nl/inl/blacklab/resultproperty/HitPropertyMultiple.java:239,
    combining HitPropertyAfterHit with DocPropertyStoredField).
    `docs` must carry both the tokens column and `meta_col`."""
    joined = _hits_for_docs_join(h).join(
        docs.select("doc_id", "tokens", meta_col), "doc_id"
    )
    ctx = F.coalesce(
        F.try_element_at("tokens", F.col("pos") + 1 + offset), F.lit("")
    )
    return (
        joined.select(ctx.alias("context"), F.col(meta_col))
        .groupBy("context", meta_col)
        .agg(F.count("*").alias("n_hits"))
    )


def hit_groups_with_samples(
    h: DataFrame, docs: DataFrame, meta_col: str, max_sample: int = 3
) -> DataFrame:
    """HitGroups with per-group stored sample — the reference keeps a bounded
    list of example hits per group besides the total count (/root/reference/
    engine/src/main/java/nl/inl/blacklab/search/results/hitresults/
    HitGroups.java): (key, n_hits, sample[(doc_id,pos)] first max_sample by
    (doc_id, pos))."""
    joined = h.join(docs.select("doc_id", meta_col), "doc_id")
    return joined.groupBy(F.col(meta_col).alias("key")).agg(
        F.count("*").alias("n_hits"),
        F.slice(
            F.sort_array(F.collect_list(F.struct("doc_id", "pos"))), 1, max_sample
        ).alias("sample"),
    )


def view_group(h: DataFrame, docs: DataFrame, meta_col: str, value) -> DataFrame:
    """All hits of ONE group (BLS viewgroup parameter): the group key is
    re-applied as a filter — with Parquet/Iceberg column stats this prunes at
    the scan."""
    joined = h.join(docs.select("doc_id", meta_col), "doc_id")
    return joined.filter(F.col(meta_col) == value).select("doc_id", "pos")


def group_hits_by_capture(
    spans_with_caps: DataFrame, docs: DataFrame, label: str
) -> DataFrame:
    """Group hits by the text of a named capture group — HitPropertyCaptureGroup
    (/root/reference/engine/src/main/java/nl/inl/blacklab/resultproperty/
    HitPropertyCaptureGroup.java): the capture's first token is looked up in
    the forward index and used as the group key."""
    joined = _hits_for_docs_join(spans_with_caps).join(
        docs.select("doc_id", "tokens"), "doc_id"
    )
    key = F.element_at("tokens", F.col(f"c_{label}_s") + 1)
    return (
        joined.select(key.alias("capture"))
        .groupBy("capture")
        .agg(F.count("*").alias("n_hits"))
    )


def decade_of(ts_col: str):
    """Decade bucketing expression (DocPropertyDecade analog, /root/reference/
    engine/src/main/java/nl/inl/blacklab/resultproperty/DocPropertyDecade.java:12-17)."""
    return (F.floor(F.year(ts_col) / 10) * 10).cast("int")


def sample_fixed_n(df: DataFrame, id_col: str, n: int, seed: int = 0) -> DataFrame:
    """Seeded fixed-size sample (SampleParameters fixed-n semantics,
    /root/reference/engine/src/main/java/nl/inl/blacklab/search/results/
    SampleParameters.java:13-49): order by a seed-keyed md5 of the id and
    take n. Deterministic at any parallelism and reproducible in any engine
    (unlike Spark's seeded rand(), whose stream is partitioning-dependent);
    compiles to TakeOrderedAndProject, no global sort."""
    key = F.md5(F.concat(F.lit(f"{seed}-"), F.col(id_col).cast("string")))
    return df.orderBy(key, F.col(id_col)).limit(n)


def sample_deterministic(df: DataFrame, id_col: str, rate_num: int, rate_den: int) -> DataFrame:
    """Reproducible sample: keep rows where (id * 2654435761) mod 2^32 falls
    below rate. Knuth multiplicative hash — identical result at any
    parallelism, any engine (unlike seeded rand())."""
    h = F.pmod(F.col(id_col) * F.lit(2654435761), F.lit(4294967296))
    return df.filter(h * rate_den < F.lit(4294967296) * rate_num)


def hits_window(df: DataFrame, order_cols: list, first: int, number: int) -> DataFrame:
    """Pagination window over a fully-specified sort (Hits.window analog).

    orderBy + offset + limit compiles to TakeOrderedAndProject (bounded
    per-partition heaps of first+number rows, merged on the driver) — the
    round-1 Window.orderBy-without-partitionBy plan shuffled EVERY hit into
    one task."""
    return df.orderBy(*order_cols).offset(first).limit(number)
