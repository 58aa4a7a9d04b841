"""Text-analysis operators (north-star extension surface).

Language ID, quality scoring, token counting, and document
fingerprinting over a document table — all JVM-side column
expressions (split/regexp/array HOFs), no Python in the hot path,
so a 100 TB corpus pass is a single codegen'd projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.functions.scalars import hash64, round6
from dbm_nca_ph_etl_spark.operators.dedup import tokens

# Tiny deterministic stopword inventories for heuristic language ID.
# (A real deployment swaps in full lists / a fastText model via
# mapInPandas; the operator contract is identical.)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "den", "im", "ein", "mit"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def word_token_count(text: Column) -> Column:
    """BPE-ish sub-token count: alphanumeric runs + standalone
    punctuation marks, via regexp extraction."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0))


def punct_ratio(text: Column) -> Column:
    """Fraction of non-space characters that are punctuation."""
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    return F.when(nonspace > 0, punct.cast("double") / nonspace.cast("double")).otherwise(0.0)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks).cast("double")).otherwise(0.0)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards reasonable length,
    penalizes punctuation soup and stopword-free token streams.
    Deterministic, SQL-replayable (oracle-checked)."""
    tc = token_count(text).cast("double")
    length_score = F.least(tc / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(1.0) - punct_ratio(text) * 5.0, F.lit(0.0))
    sw_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    return round6((length_score + punct_penalty + sw_score) / 3.0)


def lang_id(text: Column, toks: Column | None = None) -> Column:
    """Heuristic language ID: argmax of stopword votes, 'und' when no
    stopword hits at all. Ties broken by fixed language order
    (en > es > fr > de) — deterministic and oracle-replayable.

    Pass ``toks`` (an already-projected token array column) when the
    caller has let-bound tokenization: inlined here, the token HOF
    would otherwise be re-evaluated once per language filter (4×/row —
    lambda ids defeat codegen subexpression elimination)."""
    if toks is None:
        toks = tokens(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # forward iteration with strict '>' means the FIRST language in
    # dict order wins ties (en > es > fr > de)
    for lang in STOPWORDS:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        score = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def fingerprint(text: Column) -> Column:
    """Document fingerprint: 60-bit hash of the normalized text
    (lower, collapse whitespace, strip punctuation) — stable under
    formatting noise; md5-derived so the oracle replays it."""
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", ""), r"\s+", " ")
    )
    return hash64(norm)


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document stats projection."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars_actual"),
        token_count(t).alias("n_tokens"),
        word_token_count(t).alias("n_subtokens"),
        round6(punct_ratio(t)).alias("punct_ratio"),
        round6(stopword_ratio(t)).alias("stopword_ratio_en"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def chunk_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Sliding-window document chunking (the training-data prep step
    that feeds tokenizers): fixed-width character windows every
    ``stride`` chars (overlap = chunk_chars - stride). Pure column
    arithmetic — ``sequence`` + ``transform`` + ``posexplode`` — so
    chunking 100 TB is one codegen'd generate, no Python.

    Chunk count = floor((len-1)/stride)+1 (≥1 even for short docs), so
    every character belongs to at least one chunk and the last chunk
    may be short — the dominant convention for LLM pretraining shards.
    """
    t = F.col(text_col)
    last = F.greatest(F.floor((F.length(t) - 1) / stride), F.lit(0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), last),
        lambda i: t.substr(i * stride + 1, F.lit(chunk_chars)),
    )
    return docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        id_col,
        "chunk_idx",
        "chunk",
        F.length("chunk").alias("chunk_len"),
    )


# Redaction patterns: intentionally conservative/deterministic (no \b
# lookarounds that differ across regex engines).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{4}-\d{3}-\d{4}"


def redact_pii(text: Column) -> Column:
    """Replace email addresses and phone-shaped tokens with typed
    placeholder tags. One pass per pattern, JVM regex — the shape of
    any scrubbing stage (PII, boilerplate, markup) in a corpus
    pipeline."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def pii_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII counts + a fingerprint of the redacted text
    (compact equality proof that redaction matched the oracle)."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.length(redact_pii(t)).alias("redacted_len"),
        hash64(redact_pii(t)).alias("redacted_fp"),
    )


def unigram_nll(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-trained unigram language-model scoring — the KenLM-style
    perplexity filter of web-corpus pipelines (CCNet/RefinedWeb keep
    or bin documents by LM negative log-likelihood), reduced to its
    relational core: train p(t) on the corpus itself with add-one
    smoothing, score each document by its average token NLL.

    Two-readings-of-one-index plan, no second text scan:

    - postings (token, doc, tf) via one explode + groupBy
      (operators/inverted.build_postings);
    - unigram counts = a rollup OF THE POSTINGS (sum tf by token), so
      tokenization runs once;
    - totals (T tokens, V vocab) are a 1-row broadcast;
    - score join is postings ⋈ counts on token — tf-weighting means
      the join input is distinct (doc, token) pairs, not token
      instances (a stopword appearing 50× in a doc is one row).
      ``F.broadcast`` on counts: a vocabulary is model-sized next to
      its corpus (Heaps' law); if it ever isn't, drop the hint and
      AQE falls back to a salt-friendly sort-merge on ``token``.

    NLL = -ln((c(t)+1)/(T+V)), avg weighted by tf, rounded 6 dp.
    Documents with zero tokens have no likelihood and drop out (same
    convention as the quality metrics).
    """
    from dbm_nca_ph_etl_spark.operators.inverted import build_postings

    postings = build_postings(docs, id_col=id_col, text_col=text_col)
    counts = postings.groupBy("token").agg(F.sum("tf").alias("c"))
    totals = counts.agg(
        F.sum("c").cast("double").alias("T"),
        F.count(F.lit(1)).cast("double").alias("V"),
    )
    nll = -F.log((F.col("c") + 1.0) / (F.col("T") + F.col("V")))
    return (
        postings.join(F.broadcast(counts), "token")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * nll) / F.sum("tf"), 6).alias("avg_nll"),
        )
    )


def segment_dedup(
    docs: DataFrame,
    seg_tokens: int = 8,
    max_occurrences: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "broadcast",
) -> DataFrame:
    """Span-level corpus deduplication with document reconstruction —
    the CCNet/RefinedWeb "line dedup" pass (drop paragraphs repeated
    across the crawl: headers, nav bars, license boilerplate), adapted
    to unstructured text by segmenting each document into fixed
    ``seg_tokens``-token windows.

    Two-phase, never all-pairs:

    1. segment postings (one codegen'd sequence+transform+slice
       projection per doc, posexplode) → corpus-wide segment
       frequency, one map-side-combined groupBy — the same reusable
       artifact shape as the MinHash signature table;
    2. the DUPLICATED-segment set (freq > ``max_occurrences``) drives
       removal. Key observation: that set is the duplicated *content*
       of the corpus — boilerplate and templates, a sliver of total
       volume (1,625 of 36k segments on the sf0.1 corpus; a crawl's
       repeated nav/license spans behave the same) — so
       ``strategy="broadcast"`` collapses it to one broadcast array
       and cleans each document IN PLACE with an array filter:
       no join-back shuffle, no re-collect, original order for free,
       and n_segments/n_kept are just ``size()`` calls. Strictly
       fewer shuffles than the join form at any scale (one postings
       exchange + one single-row fold vs three), and measurably
       faster at sf0.1 (~2.0s vs ~2.4s warm; the gap widens with
       corpus size since the join form shuffles every posting twice).

    ``strategy="join"`` is the no-assumptions fallback for an
    adversarial corpus whose dup set itself exceeds executor memory
    (>50% duplicated spans): posting join-back + struct-collect
    reassembly, all shuffles, skew handled by AQE. Same output,
    oracle-checked equal.

    Divergence from CCNet noted: CCNet keeps the crawl-order FIRST
    copy of a duplicated line; that choice is order-dependent, so this
    operator drops ALL copies past the threshold instead — a
    deterministic, partition-invariant semantic (oracle-checked).
    Within-doc repeats count toward the threshold too.

    Documents whose every segment is dropped (or with no tokens)
    survive with empty ``clean_text`` so the output stays 1:1 with the
    corpus — downstream length filters decide their fate.

    Parallelism guard: compressed text parquet expands 10-50× in
    memory, so ``maxPartitionBytes``-sized splits are CPU-FAT — a
    corpus that is only 1-2 input splits serializes the tokenize+
    segment HOF onto 1-2 cores while 30 idle (measured: the sf1
    scaling corpus is one 5.9 MB file → 2 splits → 16.9 s; spread to
    32 partitions → 2.9 s, and the sf0.1→sf1 growth exponent drops
    from 0.96 to ~0.5). The repartition fires ONLY when input splits
    underuse ``defaultParallelism`` — at real corpus scale splits are
    plentiful and no shuffle is added.
    """
    from dbm_nca_ph_etl_spark.functions.scalars import let

    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)

    def _segments(toks: Column) -> Column:
        # toks is a lambda variable (let-bound): tokenization runs
        # once per document, not once per segment index — Catalyst
        # does not CSE across lambda boundaries (see scalars.let)
        n_segs = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
        return F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, i * seg_tokens + 1, seg_tokens)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    seg_arr = let(tokens(F.col(text_col)), _segments)

    if strategy == "broadcast":
        # cache the segment table (persist, NOT localCheckpoint): both
        # consumers — the frequency build and the cleaning pass — read
        # the cached arrays instead of re-running the tokenize+segment
        # HOF over the corpus. persist() keeps this a lazy transform
        # (no job at plan-construction time) AND keeps lineage, so a
        # lost executor recomputes its blocks instead of failing the
        # query — localCheckpoint blocks are non-replicated and
        # lineage-truncated, the wrong durability trade for the
        # long-lived corpus artifact this pass is. For a genuinely
        # persisted cross-job artifact, write base out as parquet and
        # feed that table in as `docs`.
        from pyspark import StorageLevel

        base = docs.select(F.col(id_col), seg_arr.alias("_segs")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        freq = base.select(F.explode("_segs").alias("seg")).groupBy("seg").agg(
            F.count(F.lit(1)).alias("seg_freq")
        )
        # single-row array of the duplicated segments; membership via
        # array_contains inside a per-doc filter HOF (multiplicity-
        # and order-preserving — array_except would dedup survivors)
        dups = freq.where(F.col("seg_freq") > max_occurrences).agg(
            F.collect_list("seg").alias("_dups")
        )
        with_arr = base.crossJoin(F.broadcast(dups))
        # two-step membership: array_intersect is hash-set based
        # (O(n+m)), so the per-element scan runs against the doc's OWN
        # duplicated spans (usually 0-2 entries), not the corpus-wide
        # dup set — a naive array_contains(_dups, s) per element made
        # the whole query ~2× slower at sf0.1 (4.0s vs 2.0s warm).
        # array_except alone would also dedup the
        # survivors, which breaks multiplicity at max_occurrences > 1.
        with_dd = with_arr.select(
            id_col,
            "_segs",
            # materialized as its own projection column so the filter
            # lambda below reads a computed value, not a re-evaluated
            # intersect per element
            F.array_intersect("_segs", "_dups").alias("_doc_dups"),
        )
        clean = F.filter(
            F.col("_segs"), lambda s: ~F.array_contains(F.col("_doc_dups"), s)
        )
        return with_dd.select(
            id_col,
            F.size("_segs").alias("n_segments"),
            F.size(clean).alias("n_kept"),
            F.concat_ws(" ", clean).alias("clean_text"),
        )

    if strategy != "join":
        raise ValueError(f"strategy must be broadcast|join, got {strategy!r}")

    segs = docs.select(
        F.col(id_col), F.posexplode(seg_arr).alias("seg_idx", "seg")
    )
    freq = segs.groupBy("seg").agg(F.count(F.lit(1)).alias("seg_freq"))
    keep = F.col("seg_freq") <= max_occurrences
    agg = (
        segs.join(freq, "seg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_segments"),
            F.sum(keep.cast("int")).cast("int").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("seg_idx"),
                                    F.when(keep, F.col("seg")).alias("seg"),
                                )
                            )
                        ),
                        lambda s: s["seg"].isNotNull(),
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("clean_text"),
        )
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def blocklist_hits(
    docs: DataFrame,
    blocklist: list[str],
    threshold_ppm: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-term blocklist filtering — the content-safety /
    domain-exclusion gate every crawl-curation pipeline runs before
    anything else touches the text (C4's badwords pass, RefinedWeb's
    URL/term filters). Per document: token count, blocklisted-token
    hits (multiplicity counted), integer parts-per-million hit rate,
    and the drop decision at ``threshold_ppm``.

    Shape: ONE map-only projection — the blocklist ships as a literal
    array (``array_contains`` per token), the token array is let-bound
    so tokenization runs once per row, and ``hit_ppm`` is exact
    integer division (``div``), so no float ratio can drift between
    engines. No shuffle, no UDF, whole-stage codegen. At a 100k-term
    production blocklist, swap the literal array for a broadcast join
    on exploded tokens (the heavy_hitter_tokens shape) or a bloom
    filter — the output contract is unchanged.
    """
    from dbm_nca_ph_etl_spark.functions.scalars import let

    terms = sorted(set(blocklist))
    bl = F.array(*[F.lit(t) for t in terms])

    def stats(toks: Column) -> Column:
        n = F.size(toks)
        hits = F.size(F.filter(toks, lambda t: F.array_contains(bl, t)))
        return F.struct(
            n.alias("n_tokens"),
            hits.alias("n_hits"),
            F.when(n > 0, hits.cast("bigint") * F.lit(1_000_000)).alias(
                "_scaled"
            ),
        )

    s = let(tokens(F.col(text_col)), stats)
    return docs.select(F.col(id_col), s.alias("_s")).select(
        id_col,
        F.col("_s.n_tokens").alias("n_tokens"),
        F.col("_s.n_hits").alias("n_hits"),
        F.coalesce(
            F.expr("_s._scaled div _s.n_tokens"), F.lit(0).cast("bigint")
        ).alias("hit_ppm"),
        (
            F.coalesce(
                F.expr("_s._scaled div _s.n_tokens"), F.lit(0).cast("bigint")
            )
            >= threshold_ppm
        ).alias("flagged"),
    )


def hashed_linear_score(
    docs: DataFrame,
    dim: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashed linear text classifier scoring as pure relational
    algebra — the inference core of the fastText-style quality
    filters used to gate pre-training corpora (CCNet's LM filter,
    DCLM's fastText classifier): hash each token into one of ``dim``
    feature buckets (the hashing trick — no vocabulary table to
    ship), look up the bucket's weight, score a document by the
    tf-weighted mean weight, keep if the score clears the gate.

    The weight "table" never materializes: a bucket's weight derives
    from the same md5 hash family the MinHash ops use (uniform in
    [-1e6, 1e6] micro-units), so the model is a pure expression —
    swap in a trained weight table as a ``dim``-row broadcast join
    without changing the plan shape. Arithmetic is integer to the
    last step (tf·w_e6 sums stay < 2^53, double-exact), and the
    score is floor-divided — every engine lands on the identical
    bigint, so the whole classifier is oracle-checkable.

    One tokenize pass (postings reuse, operators/inverted), one
    map-side-combined groupBy on (token, doc), one on doc — the same
    two-shuffle shape as every posting consumer; scoring 100 TB is a
    corpus scan, no driver state, no UDF.
    """
    from dbm_nca_ph_etl_spark.functions.scalars import hash48
    from dbm_nca_ph_etl_spark.operators.inverted import build_postings

    postings = build_postings(docs, id_col=id_col, text_col=text_col)
    bucket = hash48(F.col("token")) % dim
    w_e6 = (
        hash48(F.concat(F.lit("w#"), bucket.cast("string"))) % 2000001 - 1000000
    )
    scored = postings.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.floor(
            F.sum(F.col("tf") * w_e6).cast("double") / F.sum("tf")
        ).alias("score_e6"),
    )
    return scored.select(
        "doc_id", "n_tokens", "score_e6", (F.col("score_e6") >= 0).alias("keep")
    )


def chunk_tokens(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TOKEN-window document chunking with overlap — the shard-prep
    convention for context-window-bounded models (the char-based
    :func:`chunk_text` is its byte-budget sibling): windows of
    ``chunk_size`` tokens every ``chunk_size - overlap`` tokens, last
    window short, every token covered, consecutive chunks sharing
    ``overlap`` tokens so no span is ever split without context.

    Same execution shape as every chunker here: one let-bound
    tokenize, sequence+transform+slice HOFs, posexplode — a single
    codegen'd generate per document, no shuffle, no UDF. Emits the
    window's token count so downstream packing (shard_packing /
    prefix_sum) can budget without re-tokenizing.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    from dbm_nca_ph_etl_spark.functions.scalars import let

    def windows(toks: Column) -> Column:
        # last window start: the largest multiple of stride that still
        # leaves unseen tokens — floor((n - overlap - 1) / stride),
        # clamped at 0 so short docs yield exactly one window
        last = F.greatest(
            F.floor((F.size(toks) - overlap - 1) / F.lit(stride)), F.lit(0)
        ).cast("int")
        return F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(0), last),
                lambda i: F.slice(toks, i * stride + 1, chunk_size),
            ),
        ).otherwise(F.array().cast("array<array<string>>"))

    win = let(tokens(F.col(text_col)), windows)
    return docs.select(
        F.col(id_col), F.posexplode(win).alias("chunk_idx", "_w")
    ).select(
        id_col,
        "chunk_idx",
        F.size("_w").alias("n_tokens"),
        F.concat_ws(" ", "_w").alias("chunk_text"),
    )


def bpe_apply_merge(syms: Column, a: str, b: str) -> Column:
    """Apply ONE BPE merge (``a``,``b``) → ``a+b`` to a symbol array
    with greedy left-to-right non-overlap semantics (Sennrich et al.
    2016: within a merge iteration, scan the word once; a symbol
    consumed by a merge cannot start another).

    Pure array fold (``F.aggregate``) — the whole merge application
    is a codegen'd projection, no shuffle, no UDF: the accumulator
    carries the previous unconsumed symbol; seeing ``b`` right after
    a carried ``a`` emits the merged symbol and clears the carry, so
    a run like ``a a a`` merges to ``[aa, a]``, never ``[a, aa]`` or
    ``[aaa]``. The empty string is safe as the no-carry sentinel —
    symbols are never empty.
    """
    merged = a + b

    def step(acc: Column, s: Column) -> Column:
        flush = F.when(acc["carry"] == "", acc["res"]).otherwise(
            F.concat(acc["res"], F.array(acc["carry"]))
        )
        return F.when(
            (acc["carry"] == F.lit(a)) & (s == F.lit(b)),
            F.struct(
                F.concat(acc["res"], F.array(F.lit(merged))).alias("res"),
                F.lit("").alias("carry"),
            ),
        ).otherwise(F.struct(flush.alias("res"), s.alias("carry")))

    return F.aggregate(
        syms,
        F.struct(
            F.array().cast("array<string>").alias("res"), F.lit("").alias("carry")
        ),
        step,
        lambda acc: F.when(acc["carry"] == "", acc["res"]).otherwise(
            F.concat(acc["res"], F.array(acc["carry"]))
        ),
    )


def bpe_train(
    words: DataFrame,
    k: int = 8,
    word_col: str = "w",
    count_col: str = "wc",
    return_state: bool = False,
    max_merges: int = 65536,
) -> "DataFrame | tuple[DataFrame, DataFrame]":
    """Full BPE tokenizer induction: ``k`` iterative merges over a
    distinct-word frequency table → the merge list (the actual
    tokenizer artifact), ``(step, lhs, rhs, merged, merge_count)``.

    The iterative-operator pattern shared with ``kmeans_train`` /
    ``pagerank``: per iteration (1) count adjacent symbol pairs over
    the VOCAB table — Heaps-law sized, never the corpus — weighted
    by word frequency, one map-side-combined groupBy; (2) pull the
    single argmax row to the driver (ties broken by (lhs, rhs) —
    driver state is k rows total, O(1) in corpus size); (3) apply
    the merge with :func:`bpe_apply_merge`, a shuffle-free
    projection. Each iteration's state persists MEMORY_AND_DISK
    (lazy, lineage-preserving; materialized by that iteration's
    count job) and the previous iteration unpersists, so the k-fold
    plan never recomputes from raw text.

    JOB-COUNT CONTRACT (shared with ``kmeans_train``): calling this
    runs ~k sequential driver-coordinated Spark jobs eagerly (one
    pair-count argmax per merge, the apply folded into the next
    count) — it trains a model, it does not build a lazy plan.
    ``k`` bounds driver round-trips: a production tokenizer train
    (k≈30-50k) is tens of thousands of short vocab-table jobs;
    corpus size is irrelevant to that count, but wall-clock is
    k × job latency. ``max_merges`` guards an unbounded/erroneous
    ``k``; ``k <= 0`` returns an empty merge list, and ``k`` past
    vocab exhaustion stops early at the natural fixpoint (no
    adjacent pair left).

    With ``return_state=True`` returns ``(merges_df, state)``;
    ``state`` (the final vocab segmentation — the encoder table) is
    materialized here so the internal iteration cache can be
    released before returning; the caller owns persistence of
    ``state`` itself from there.

    100 TB shape: the corpus-sized work is exactly one
    tokenize+groupBy to build ``words`` (upstream of this function);
    everything here scales with vocabulary.
    """
    from pyspark import StorageLevel

    if k > max_merges:
        raise ValueError(
            f"k={k} exceeds max_merges={max_merges}: each merge is a "
            "sequential driver-coordinated Spark job; raise max_merges "
            "explicitly if a bigger tokenizer train is intended"
        )
    spark = words.sparkSession
    state = words.select(
        F.col(word_col).alias("w"),
        F.col(count_col).alias("wc"),
        F.filter(F.split(word_col, r"(?!^)"), lambda c: c != "").alias("syms"),
    )
    pair_structs = F.transform(
        F.sequence(F.lit(1), F.size("syms") - 1),
        lambda i: F.struct(
            F.element_at("syms", i).alias("a"),
            F.element_at("syms", F.lit(1) + i).alias("b"),
        ),
    )
    merges: list[tuple] = []
    prev = None
    for step_i in range(1, k + 1):
        state = state.persist(StorageLevel.MEMORY_AND_DISK)
        top = (
            state.where(F.size("syms") >= 2)
            .select(F.explode(pair_structs).alias("p"), "wc")
            .groupBy("p.a", "p.b")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
        prev = state
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((step_i, a, b, a + b, cnt))
        state = state.select("w", "wc", bpe_apply_merge(F.col("syms"), a, b).alias("syms"))
    merges_df = spark.createDataFrame(
        merges, "step int, lhs string, rhs string, merged string, merge_count long"
    )
    if return_state:
        # keep the final vocab segmentation (w, wc, syms) — the
        # ENCODER table: joining corpus tokens against it applies the
        # trained tokenizer without re-running any merge. Materialize
        # it ONCE (localCheckpoint cuts the lineage through the
        # iteration cache) so `prev` can be released here instead of
        # pinning executor memory for the session.
        state = state.localCheckpoint(eager=True)
        if prev is not None:
            prev.unpersist()
        return merges_df, state
    if prev is not None:
        prev.unpersist()
    return merges_df


def bigram_nll(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-trained BIGRAM language-model scoring with add-one
    smoothing — the order-2 upgrade of :func:`unigram_nll`'s
    perplexity filter: p(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V), which
    catches word-salad documents whose unigram distribution looks
    fine but whose transitions are noise (the CCNet binning signal).

    One tokenize pass; everything downstream is rollups of the
    per-doc bigram table:

    - occ (doc, w1, w2, btf): per-doc bigram type counts — the
      tf-weighting discipline (a repeated transition is one row);
    - c12 = Σ btf over docs (corpus bigram counts), c1 = Σ c12 over
      w2 (context counts) — rollups, no second scan;
    - V = |vocab| from the c12 table's two token columns (1-row
      broadcast);
    - per-type NLL is quantized to integer micro-nats
      (``floor((ln(c1+V) − ln(c12+1))·1e6 + 0.5)``) so the per-doc
      sum is an EXACT integer — partial-agg merge order can never
      perturb a perplexity (catalog determinism contract);
    - the scoring join occ ⋈ per on (w1, w2) shuffles bigram TYPES,
      not instances; at 100 TB both sides co-partition on the
      bigram key (or denormalize the counts into a persisted
      postings-style artifact, as bm25/tfidf advise).

    Output per doc: n_bigrams, exact ``nll_micro``, the rounded
    ``avg_nll_micro`` and integer perplexity ``ppl`` (exp of the
    average — deterministic double math on exact integers). Docs
    with < 2 tokens have no transitions and drop out."""
    from dbm_nca_ph_etl_spark.functions.scalars import let
    from dbm_nca_ph_etl_spark.operators.dedup import tokens

    def bigrams(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - 1)
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    occ = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(let(tokens(F.col(text_col)), bigrams)).alias("b"),
        )
        .groupBy("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("btf"))
    )
    c12 = occ.groupBy("w1", "w2").agg(F.sum("btf").cast("long").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vocab = (
        c12.select(F.col("w1").alias("tok"))
        .union(c12.select(F.col("w2").alias("tok")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("V"))
    )
    per = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.floor(
                (
                    F.log((F.col("c1") + F.col("V")).cast("double"))
                    - F.log((F.col("c12") + F.lit(1)).cast("double"))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("nm"),
        )
    )
    scored = (
        occ.join(per, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("btf").cast("long").alias("n_bigrams"),
            F.sum(F.col("btf") * F.col("nm")).cast("long").alias("nll_micro"),
        )
    )
    avg = F.floor(
        F.col("nll_micro").cast("double") / F.col("n_bigrams").cast("double")
        + F.lit(0.5)
    ).cast("long")
    return scored.select(
        "doc_id",
        "n_bigrams",
        "nll_micro",
        avg.alias("avg_nll_micro"),
        F.floor(F.exp(avg.cast("double") / F.lit(1e6)) + F.lit(0.5))
        .cast("long")
        .alias("ppl"),
    )


def hashed_features(
    docs: DataFrame, dim: int = 256, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, bucket, btf, n_tokens) hashed bag-of-words features —
    the hashing-trick representation (no vocabulary table to ship)
    shared by :func:`hashed_linear_score` and the trainer below. One
    tokenize pass; bucket = hash48(token) % dim (DuckDB-replayable)."""
    from dbm_nca_ph_etl_spark.functions.scalars import hash48
    from dbm_nca_ph_etl_spark.operators.inverted import build_postings

    postings = build_postings(docs, id_col=id_col, text_col=text_col)
    per_doc = Window.partitionBy("doc_id")
    return (
        postings.groupBy("doc_id", (hash48(F.col("token")) % dim).alias("bucket"))
        .agg(F.sum("tf").cast("long").alias("btf"))
        .withColumn("n_tokens", F.sum("btf").over(per_doc).cast("long"))
    )


def linear_classifier_train(
    feats: DataFrame,
    labels: DataFrame,
    dim: int = 256,
    iters: int = 2,
    lr: float = 4.0,
    max_iters: int = 64,
) -> DataFrame:
    """IN-ENGINE logistic-regression training over hashed features —
    the missing half of the fastText-style corpus gate: the engine
    can now TRAIN the quality/language classifier it applies, not
    just score with shipped weights. Full-batch gradient descent,
    ``iters`` iterations:

        z_d  = Σ_b btf·w_b / (n_tokens·1e6)      (exact-int dot)
        p_d  = σ(z_d),  r_d = p_d − y_d
        g_b  = Σ_d floor(r_d·btf/n_tokens·1e6 + .5)   (exact-int sum)
        w_b ← w_b − floor(lr·g_b/n_docs + .5)

    Every stored quantity (weights, gradients) is an INTEGER
    micro-unit: per-row double math quantizes before any cross-row
    sum, so training is bit-reproducible under any partitioning and
    the whole k-iteration loop unrolls into a SQL oracle (the
    pagerank/bpe discipline). Per iteration: one broadcast join of
    the dim-row weight table into the feature scan, one groupBy doc
    (scores), one groupBy bucket (gradients) — the model never
    leaves the cluster, no collect; ``iters`` bounds job count
    exactly like ``kmeans_train``/``bpe_train`` (guarded by
    ``max_iters``). At 100 TB the feature table is the persisted
    postings artifact and each iteration is two scans of it.

    ``labels``: (doc_id, y) with y ∈ {0,1}. Docs without tokens or
    labels don't train. Returns the (bucket, w_micro) weight table,
    all ``dim`` rows."""
    if iters > max_iters:
        raise ValueError(f"iters={iters} exceeds max_iters={max_iters}")
    spark = feats.sparkSession
    lf = feats.join(labels.select("doc_id", "y"), "doc_id")
    n_docs = lf.select("doc_id").distinct().count()
    if n_docs == 0:
        raise ValueError("no labeled documents with features")
    w = spark.range(dim).select(
        F.col("id").cast("long").alias("bucket"),
        F.lit(0).cast("long").alias("w_micro"),
    )
    for _ in range(iters):
        scored = (
            lf.join(F.broadcast(w), "bucket")
            .groupBy("doc_id", "y", "n_tokens")
            .agg(F.sum(F.col("btf") * F.col("w_micro")).cast("long").alias("s"))
        )
        z = F.col("s").cast("double") / (
            F.col("n_tokens").cast("double") * F.lit(1e6)
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = scored.select(
            "doc_id", (p - F.col("y").cast("double")).alias("r")
        )
        grads = (
            lf.join(resid, "doc_id")
            .select(
                "bucket",
                F.floor(
                    (
                        F.col("r")
                        * F.col("btf").cast("double")
                        / F.col("n_tokens").cast("double")
                    )
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("g"),
            )
            .groupBy("bucket")
            .agg(F.sum("g").cast("long").alias("g"))
        )
        upd = F.floor(
            F.lit(lr) * F.col("g").cast("double") / F.lit(float(n_docs))
            + F.lit(0.5)
        ).cast("long")
        # localCheckpoint truncates the lineage each iteration — the
        # weight table is dim rows of model state, so the checkpoint
        # is bytes; without the cut, k chained broadcast-join plans
        # grow the driver-side tree ~k× (OOMs well before k=16)
        w = (
            w.join(grads, "bucket", "left")
            .select(
                "bucket",
                (F.col("w_micro") - F.coalesce(upd, F.lit(0))).alias("w_micro"),
            )
            .localCheckpoint(eager=True)
        )
    return w
