"""Text-analysis operators for large-scale training-data pipelines.

All pure Catalyst expressions (regexp_count / length / md5 / split) — no
Python UDFs, so they run inside whole-stage codegen and scale linearly with
input splits. Each has an exact DuckDB-SQL twin (registered in
plans/extensions.py) because both engines count non-overlapping regex
matches identically.

Design note (100 TB): these are embarrassingly parallel map-side ops over a
single scan of ``documents`` — no shuffle at all; column pruning reaches the
parquet reader, so only ``doc_id``/``text`` bytes are read.
"""

from __future__ import annotations

import pandas  # module-scope: pandas_udf type hints resolve via __globals__

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# CJK scripts carry no whitespace/word boundaries, so one CODEPOINT = one
# token (the standard LLM-tokenizer approximation for Han/kana/Hangul).
# Explicit codepoint ranges — NOT \p{Han} script classes — so Spark's Java
# regex and DuckDB's RE2 count identically (verified cross-engine in
# tests/test_text_cjk.py): Hiragana+Katakana U+3040-30FF, CJK Ext-A
# U+3400-4DBF, CJK Unified U+4E00-9FFF, Hangul syllables U+AC00-D7AF.
CJK_CP_RE = "[぀-ヿ㐀-䶿一-鿿가-힯]"
# Token = maximal run of word characters (BPE-ish pre-tokenization
# boundary) OR a single CJK codepoint. Every oracle twin that re-spells
# this regex must carry the same alternation (lockstep is pinned by the
# cross-engine CJK gate in tests/test_text_cjk.py).
TOKEN_RE = "[A-Za-z0-9]+|" + CJK_CP_RE
# Language-ID n-gram/stopword evidence. Deterministic, order-matters tie-break.
LANG_MARKERS: list[tuple[str, str]] = [
    ("en", r"\b(the|and|of|to|is|in)\b"),
    ("es", r"\b(el|la|los|las|de|que|y)\b"),
    ("fr", r"\b(le|la|les|des|et|est|une)\b"),
    ("de", r"\b(der|die|das|und|ist|nicht)\b"),
]
CJK_RE = "[一-鿿]"


def token_count(text: Column) -> Column:
    """Whitespace/punctuation-agnostic token count via regex matches."""
    return F.regexp_count(text, F.lit(TOKEN_RE))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality score in [0,1].

    Components (each a cheap codegen expression):
    - length band: docs between 64 and 8192 chars score 1, else 0
    - alpha ratio: fraction of alphabetic chars
    - mean token length band: 2..12 chars → 1, else 0
    Weighted 0.25/0.5/0.25, rounded to 4 decimals for cross-engine hash
    stability.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_alpha = F.regexp_count(t, F.lit("[A-Za-z]"))
    n_tokens = token_count(t)
    n_stop = F.regexp_count(
        F.lower(t), F.lit(r"\b(the|and|of|to|is|in|a|that|it|for)\b")
    )
    len_ok = F.when((n_chars >= 64) & (n_chars <= 8192), 1.0).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(0.0)
    mean_tok = F.when(n_tokens > 0, n_alpha.cast("double") / n_tokens)
    tok_ok = F.when((mean_tok >= 2) & (mean_tok <= 12), 1.0).otherwise(0.0)
    from salesanalytics_etl_spark.functions.scalar import floor_round

    # floor-formula, not engine-native ROUND: every component is a
    # ratio of small integers (alpha/len, stop/tokens) that CAN sit
    # exactly on a 5th-decimal midpoint (e.g. 3/32 = 0.09375), where
    # Spark and DuckDB round differently — the q104 sf0.1 class
    score = floor_round(0.25 * len_ok + 0.5 * alpha_ratio + 0.25 * tok_ok, 4)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        floor_round(alpha_ratio, 4).alias("alpha_ratio"),
        floor_round(stop_ratio, 4).alias("stopword_ratio"),
        score.alias("quality"),
    )


def lang_id(
    df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """N-gram/stopword language-ID heuristic.

    CJK characters dominate → 'zh'; otherwise the language whose stopword
    regex hits most (ties broken by LANG_MARKERS order, then 'und' for
    zero evidence). Deterministic — the same counts are computable in ANSI
    SQL, so this has an exact oracle twin.
    """
    t = F.col(text_col)
    cjk = F.regexp_count(t, F.lit(CJK_RE))
    scores = [
        (lang, F.regexp_count(F.lower(t), F.lit(rx))) for lang, rx in LANG_MARKERS
    ]
    # argmax with first-wins tie-break: greatest(strictly later scores must
    # exceed earlier ones to win).
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, s in scores:
        win = s > best_score
        best_lang = F.when(win, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(win, s).otherwise(best_score)
    pred = F.when(cjk > 0, F.lit("zh")).otherwise(
        F.when(best_score > 0, best_lang).otherwise(F.lit("und"))
    )
    # `keep` passes metadata columns through the same projection so
    # consumers (e.g. the q88 confusion matrix) never need a self-join.
    # spread first (r16 opt round): the marker regex_counts are the cost
    # and a single-file corpus scan plans as ONE task, serializing the
    # whole regex pass — same trap as the explode operators (row-level
    # projection, values unchanged).
    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    return spread_partitions(df.select("doc_id", *keep, text_col)).select(
        "doc_id", *keep, pred.alias("lang_pred")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks — the standard
    context-window preparation for training pipelines.

    Pure array expressions: tokenize once, explode chunk start offsets
    (stride apart), slice the token array per chunk, re-join. One row in →
    ceil(n_tokens/stride) rows out, all inside codegen+generate operators;
    no Python. NULL/empty-text documents produce ZERO chunks (split of an
    empty normalized string yields [''] and NULL text would fabricate a
    chunk_len through least()'s null-skipping — both phantom chunks a
    training pipeline must never see).
    """
    toks = tokens(F.col(text_col))
    base = df.select("doc_id", toks.alias("toks")).where(
        F.col("toks").isNotNull()
        & ~((F.size("toks") == 1) & (F.element_at("toks", 1) == ""))
    ).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("toks") - 1, F.lit(0)),
                F.lit(stride),
            )
        ).alias("start"),
    )
    return base.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start") + 1, chunk_tokens), " "
        ).alias("chunk_text"),
        F.least(F.size("toks") - F.col("start"), F.lit(chunk_tokens)).alias(
            "chunk_len"
        ),
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def cjk_segment(text: Column) -> Column:
    """Space-delimit CJK codepoints so the whitespace tokenizer segments
    unspaced scripts one codepoint per token. Latin/ASCII text is
    byte-identical after this pass (the class matches nothing), so every
    non-CJK corpus tokenizes exactly as before."""
    return F.regexp_replace(text, "(" + CJK_CP_RE + ")", " $1 ")


def tokens(text: Column) -> Column:
    """The shared CJK-aware whitespace tokenizer: segment CJK, normalize,
    split on whitespace. All split-based token consumers (chunking,
    TF-IDF/BM25, surprisal, KL, repetition, shingles, decontamination)
    go through here so they stay in lockstep with each other and with
    their oracle twins. NOTE: fingerprinting (:func:`normalize_text` md5)
    deliberately does NOT segment — the canonical form of the bytes is a
    different notion from the token stream."""
    return F.split(normalize_text(cjk_segment(text)), r"\s+")


def _token_rows(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, term) rows: whitespace tokens of the normalized text —
    the shared tokenization for TF-IDF / inverted index / repetition.

    Spread before the explode: a single-file corpus scan plans as one
    task, and the ~300× token fan-out would otherwise run serially on it
    (same trap as the decontamination join — see SCALE.md round-5 notes).
    """
    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    return spread_partitions(df.select("doc_id", F.col(text_col))).select(
        "doc_id",
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.length("term") > 0)


def bigram_surprisal(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document bigram cross-entropy (bits per transition) under the
    corpus's own bigram language model — the CCNet-style perplexity
    filter one order up from :func:`unigram_surprisal`: a document whose
    token TRANSITIONS are systematically improbable under the corpus
    model (word salad, shuffled boilerplate, keyword stuffing) scores
    high even when its individual tokens are common, which the unigram
    model cannot see.

    Model: MLE without smoothing — P(cur|prev) = c(prev,cur)/c(prev,·)
    with the denominator counted over TRANSITIONS (prev as a non-final
    token). No smoothing is needed because the corpus is its own
    training set: every scored transition was observed at least once,
    so the estimate is defined everywhere.

    Returns (doc_id, n_transitions, bits_per_transition) for every doc
    with >= 2 tokens. Cross-engine determinism (the q104 discipline):
    per-bigram surprisal ``-log2(c2/c1)`` is rounded to 6 decimals ONCE
    and accumulated as DECIMAL(18,6) — the per-doc sum is exact integer
    arithmetic, order-insensitive; only the final divide is floating
    point.

    Scale shape: transitions are built MAP-SIDE with one array
    ``transform`` over the token list (no window, no self-join — a lag
    window per doc would sort every doc's tokens through the window
    machinery for what is a positional zip); the bigram vocab is one
    map-side-combinable groupBy, context counts re-aggregate the vocab
    (never the transition stream), and the scoring join is
    per-doc-tf ⋈ vocab on the bigram key (Zipf-small once aggregated).
    """
    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    w = tokens(F.col(text_col))
    base = (
        spread_partitions(df.select("doc_id", F.col(text_col)))
        .select("doc_id", w.alias("w"))
        .filter((F.size("w") >= 2) & (F.element_at("w", 1) != ""))
    )
    trans = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> named_struct('prev', element_at(w, i),"
                "                   'cur', element_at(w, i + 1)))"
            )
        ).alias("t"),
    ).select("doc_id", "t.prev", "t.cur")
    bf = trans.groupBy("doc_id", "prev", "cur").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # persist the bigram vocab: context counts and per-bigram bits both
    # derive from it (same double-consumer shape as unigram_surprisal)
    c2 = bf.groupBy("prev", "cur").agg(F.sum("tf").alias("c2")).persist()
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    bits = c2.join(c1, "prev").select(
        "prev",
        "cur",
        F.round(F.log2(F.col("c1")) - F.log2(F.col("c2")), 6)
        .cast("decimal(18,6)")
        .alias("bits"),
    )
    out = (
        bf.join(bits, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_transitions"),
            F.sum(F.col("tf") * F.col("bits")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_transitions",
            # floor-formula — same 4dp-midpoint class as
            # unigram_surprisal's quotient (caught at sf0.1, r10)
            (
                F.floor(
                    F.col("_s").cast("double")
                    / F.col("n_transitions")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("bits_per_transition"),
        )
        .localCheckpoint()
    )
    c2.unpersist()
    return out


def source_kl_divergence(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source unigram KL divergence to the corpus distribution, in
    bits — the data-mixture drift diagnostic: a source whose token
    distribution departs from the blended corpus (domain jargon, another
    language, boilerplate skew) scores high and deserves its own
    mixture weight / filtering policy.

    KL(source ‖ corpus) = Σ_term p_s · log2(p_s / p) with
    p_s = ctf_s/N_s and p = ctf/N (MLE; finite by construction — every
    source term is in the corpus, p > 0 wherever p_s > 0). Returns one
    row per source: (source, n_terms, n_tokens, kl_bits). KL ≥ 0, with
    equality iff the source matches the corpus distribution.

    Cross-engine determinism (the q104 discipline): each (source, term)
    contribution is one fixed-shape double expression rounded to 6
    decimals, accumulated as DECIMAL(18,6) — order-insensitive exact
    sum; the oracle spells the identical expression tree.

    Scale shape: one tokenize pass; per-source vocab is a map-side
    combinable groupBy on (source, term); the corpus vocab RE-AGGREGATES
    the per-source vocab (the token stream is never shuffled twice);
    per-source totals are a |sources|-row broadcast join; the scoring
    join is per-source-vocab ⋈ corpus-vocab on term (Zipf-small).
    """
    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    toks = spread_partitions(df.select("doc_id", "source", F.col(text_col))).select(
        "source",
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.length("term") > 0)
    sv = (
        toks.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("ctf_s"))
        .persist()
    )
    totals = sv.groupBy("source").agg(F.sum("ctf_s").alias("n_s"))
    corpus = sv.groupBy("term").agg(F.sum("ctf_s").alias("ctf"))
    n_total = corpus.agg(F.sum("ctf").alias("n"))
    contrib = (
        sv.join(corpus, "term")
        .join(F.broadcast(totals), "source")
        .join(F.broadcast(n_total))
        .select(
            "source",
            "ctf_s",
            F.round(
                (F.col("ctf_s") / F.col("n_s"))
                * (
                    F.log2("ctf_s")
                    - F.log2("n_s")
                    - F.log2("ctf")
                    + F.log2("n")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("kl_term"),
        )
    )
    out = (
        contrib.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("ctf_s").alias("n_tokens"),
            F.sum("kl_term").alias("_kl"),
        )
        .select(
            "source",
            "n_terms",
            "n_tokens",
            # floor-formula: the exact DECIMAL(18,6) sum can sit
            # EXACTLY on a 4dp midpoint (same class as the surprisal
            # quotients, caught at sf0.1 in r10)
            (
                F.floor(F.col("_kl").cast("double") * F.lit(10000.0) + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("kl_bits"),
        )
        .localCheckpoint()
    )
    sv.unpersist()
    return out


def tfidf_terms(
    df: DataFrame, text_col: str = "text", top_n: int = 3
) -> DataFrame:
    """Top-N characteristic terms per document by TF-IDF.

    Three shuffles, all on small keys: tf by (doc, term), df by term, and
    the per-doc top-N window. idf = ln(N/df) with the doc count N computed
    as a 1-row broadcast (no collect). Scores are rounded to 6 decimals;
    rank order uses the ROUNDED score + term so the ordering is identical
    in any engine (exact-equal scores happen — same tf, same df — and the
    term tiebreak resolves them deterministically).

    Scale: df/idf is |vocab|-sized, a candidate for broadcast once
    aggregated; the tf table is the big one and shuffles once.
    """
    from pyspark.sql import Window

    toks = _token_rows(df, text_col)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top_n)
        .select("doc_id", "term", "tf", "df", "tfidf", "term_rank")
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    min_df: int = 5,
    max_postings: int = 20,
) -> DataFrame:
    """Term → postings index: per term, document frequency and the first
    ``max_postings`` doc ids (sorted ascending).

    One shuffle on term; postings are capped so a stopword's row stays
    bounded (the full postings of 'the' at 100 TB would be the corpus).
    Postings are emitted as a comma-joined string of ascending doc ids:
    deterministic, engine-comparable, and scalar-typed so downstream
    result canonicalizers (which sort cells) never see an array column.
    """
    from pyspark.sql import Window

    toks = _token_rows(df, text_col).distinct()
    # Rank postings per term BEFORE aggregating and collect only ranks
    # <= max_postings (collect_list skips the NULLs the WHEN produces):
    # a collect-then-slice would accumulate a stopword's FULL posting
    # list — the corpus, at 100 TB — in one non-spillable agg buffer
    # before slicing. The window sorter spills; the collect buffer is
    # now <= max_postings entries; df still counts every posting.
    w = Window.partitionBy("term").orderBy("doc_id")
    ranked = toks.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("_rn") <= max_postings, F.col("doc_id")
                        )
                    )
                ).cast("array<string>"),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


# PII patterns — simple enough to behave identically under Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookarounds.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{2,4}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact email/phone patterns with typed placeholders; report per-doc
    match counts and an md5 of the redacted text (byte-exact proof of the
    rewrite without shipping the full text).

    Map-only (regexp_count + regexp_replace inside codegen): no shuffle,
    linear scan — the shape PII scrubbing must have at 100 TB.
    """
    t = F.col(text_col)
    # phones are counted on the EMAIL-REDACTED text, not the original:
    # replacements apply sequentially, so a phone-shaped substring inside
    # an email (a.555-12@x.com) is consumed by [EMAIL] and never becomes
    # a [PHONE] placeholder — counting it would desynchronize n_phones
    # from the placeholder count in the redacted text the md5 certifies
    after_email = F.regexp_replace(t, EMAIL_RE, "[EMAIL]")
    redacted = F.regexp_replace(after_email, PHONE_RE, "[PHONE]")
    return df.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(after_email, F.lit(PHONE_RE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


def repetition_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-repetition quality signals: distinct/total token ratio and the
    dominance of the single most frequent token.

    High repetition (low distinct ratio, high top-token share) flags
    boilerplate/spam for corpus filtering. Array expressions per row for
    the distinct ratio; one (doc, term) shuffle for the top-token share.
    """
    # empty/whitespace-only/NULL docs: split('') yields [''] — reporting
    # n_tokens=1, distinct_ratio=1.0 would score a degenerate doc as
    # maximally diverse (best-possible) and disagree with token_count's 0
    nz = F.length(normalize_text(F.col(text_col))) > 0
    toks = tokens(F.col(text_col))
    base = df.select(
        "doc_id", toks.alias("_toks"), nz.alias("_nz")
    ).select(
        "doc_id",
        F.when(F.col("_nz"), F.size("_toks")).otherwise(F.lit(0)).alias(
            "n_tokens"
        ),
        F.when(F.col("_nz"), F.size(F.array_distinct("_toks")))
        .otherwise(F.lit(0))
        .alias("n_distinct"),
    )
    top_share = (
        _token_rows(df, text_col)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_count"))
    )
    from salesanalytics_etl_spark.functions.scalar import floor_round

    # floor-formula: small-integer quotients can sit exactly on 5th-
    # decimal midpoints (the q104 sf0.1 class)
    ratio = F.when(
        F.col("n_tokens") > 0,
        floor_round(
            F.col("n_distinct").cast("double") / F.col("n_tokens"), 4
        ),
    )
    share = F.when(
        F.col("n_tokens") > 0,
        floor_round(
            F.coalesce(F.col("top_token_count"), F.lit(0)).cast("double")
            / F.col("n_tokens"),
            4,
        ),
    )
    return (
        base.join(top_share, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            ratio.alias("distinct_ratio"),
            share.alias("top_token_share"),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text.

    (The reference has no text ops; this is the training-data-pipeline
    extension surface — BASELINE.json north star.)
    """
    return df.select(
        "doc_id", F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    )


def compression_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deflate-compressibility quality signal: compressed/raw byte ratio
    of the normalized text. Highly compressible documents (ratio << 1 for
    their length) are repetitive boilerplate/spam; near-1 ratios at short
    length are high-entropy junk. The signal the regex-based heuristics
    (quality_score, repetition_ratio) can't see: long-range repetition.

    zlib has no SQL equivalent, so this is the sanctioned Python
    boundary: an Arrow-batched pandas UDF (one Python call per ~10k-row
    batch, zero per-row interpreter crossings) — NOT a row-at-a-time UDF.
    Deterministic (zlib level pinned), map-only, no shuffle.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts: pandas.Series) -> pandas.Series:  # noqa: UP037
        import zlib

        def one(t: str | None) -> float | None:
            if t is None:  # null-propagate like every built-in text op
                return None
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(one)

    norm = normalize_text(F.col(text_col))
    return df.select(
        "doc_id",
        F.length(norm).alias("n_chars_norm"),
        _ratio(norm).alias("compress_ratio"),
    )


def portable_compressibility(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Engine-portable compressibility estimate — the algorithm-class twin
    of :func:`compression_ratio` (deflate = LZ77 match elimination +
    Huffman entropy coding), re-expressed so BOTH halves are exact
    integer arithmetic a SQL oracle can replay bit-for-bit:

    - **Entropy-coder half** (``entropy_bp``): per document of N chars,
      each character with count n is priced at
      ``length(bin(N div n))`` bits — an integer ceiling-ish bound on
      ``-log2(n/N)`` (within 1 bit of the Shannon/Huffman length, no
      logarithms, so no cross-engine libm ulp hazard). ``est_bits`` is
      the per-doc sum; ``entropy_bp = est_bits*10000 div (8*N)`` is the
      estimated compressed/raw byte ratio in basis points.
    - **LZ77 half** (``dup8_bp``): fraction of the doc's overlapping
      8-char grams that are duplicates of an earlier gram — the
      long-range-repetition signal deflate's match finder exploits, as
      integer basis points over ``greatest(N-7, 0)`` total grams.

    Both signals are computed entirely map-side with array higher-order
    functions: zero shuffle, zero Python, one scan of (doc_id, text).
    HOF lambdas are interpreted per element (the shingle_rows lesson),
    so the char counting sorts once (native array_sort) and run-length
    encodes with O(N) interpreted steps instead of the O(N × distinct)
    filter-per-distinct-char formulation (measured 1.8× on the entropy
    half at sf0.1, value-identical on every doc). Per-row work is
    O(N log N) — bounded by the document length, so the operator scales
    linearly with splits at any corpus size (chunk first via
    chunk_documents for multi-MB documents).

    q85 (zlib at pinned level 6) stays the production signal; this twin
    makes the compressibility FAMILY driver-hash-checkable like the
    other replay queries (q109-q113).
    """
    norm = normalize_text(F.col(text_col))
    base = (
        df.select("doc_id", norm.alias("norm"))
        .where(F.col("norm").isNotNull() & (F.length("norm") > 0))
        .select(
            "doc_id",
            "norm",
            F.length("norm").cast("long").alias("n_chars"),
            F.array_sort(F.split("norm", "")).alias("_s"),
        )
    )
    # run boundaries in the sorted char array: 1-based positions i where
    # a run ends (least() keeps element_at in bounds — no reliance on OR
    # short-circuit, which ANSI mode would turn into an index error)
    ends = (
        "filter(sequence(1, cast(n_chars as int)),"
        " i -> i = cast(n_chars as int)"
        " OR element_at(_s, i) != element_at(_s,"
        "      least(i + 1, cast(n_chars as int))))"
    )
    run_j = "(element_at(_ends, j) - if(j = 1, 0, element_at(_ends, j - 1)))"
    return (
        base.withColumn("_ends", F.expr(ends))
        .select(
            "doc_id",
            "n_chars",
            F.expr(
                "aggregate(sequence(1, size(_ends)), 0L,"
                f" (acc, j) -> acc + {run_j}"
                f" * length(bin(n_chars div {run_j})))"
            ).alias("est_bits"),
            F.greatest(F.col("n_chars") - 7, F.lit(0)).alias("_g8"),
            F.expr(
                "size(array_distinct(transform("
                "  sequence(1, greatest(cast(n_chars as int) - 7, 0)),"
                "  i -> substring(norm, i, 8))))"
            ).cast("long")
            .alias("_d8"),
        )
        .select(
            "doc_id",
            "n_chars",
            "est_bits",
            F.expr("est_bits * 10000 div (8 * n_chars)").alias("entropy_bp"),
            F.expr(
                "case when _g8 > 0 then (_g8 - _d8) * 10000 div _g8"
                " else 0L end"
            ).alias("dup8_bp"),
        )
    )


def unigram_surprisal(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document unigram cross-entropy (bits/token) under the corpus's
    own unigram language model — the classic LM-based quality filter
    (CCNet-style perplexity filtering, with the n-gram model degenerate
    at n=1 so the whole computation stays in SQL): documents whose tokens
    are systematically rare under the corpus distribution score high and
    are curation candidates.

    Returns (doc_id, n_tokens, bits_per_token) for every doc with >=1
    token. Cross-engine determinism: the per-term surprisal
    -log2(tf/N) is rounded to 6 decimals ONCE (a single deterministic
    double op per distinct term) and accumulated as DECIMAL(18,6) — the
    per-doc sum is exact integer arithmetic, immune to partitioning and
    summation order; only the final divide-by-n is floating point.

    Scale shape: vocab is one map-side-combinable groupBy on term; the
    corpus total N is a 1-row broadcast (no collect); the scoring join is
    tf-rows ⋈ vocab on term (vocab is Zipf-small once aggregated — AQE
    broadcasts it); the per-doc agg reuses the doc_id partitioning.
    """
    toks = _token_rows(df, text_col)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Persist the vocab (|vocab| ≪ |tokens| by Zipf): the total and the
    # per-term bits BOTH derive from it, and unpersisted each would
    # recompute the tokenize+tf pass — .explain showed the corpus
    # scanned three times; the model-train/score split is inherently two
    # passes and should stay two. The output (the |docs|-sized scoring
    # table a pipeline materializes anyway) is checkpointed eagerly so
    # the cache can be released before returning.
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("ctf")).persist()
    total = vocab.agg(F.sum("ctf").alias("_n"))
    term_bits = vocab.join(F.broadcast(total)).select(
        "term",
        F.round(F.log2(F.col("_n")) - F.log2(F.col("ctf")), 6)
        .cast("decimal(18,6)")
        .alias("bits"),
    )
    out = (
        tf.join(term_bits, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("bits")).alias("_sum_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # floor-formula, NOT engine-native ROUND: the quotient of a
            # 1e-6-grid decimal sum by an integer can land EXACTLY on a
            # 4dp midpoint, where Spark (shortest-repr HALF_UP) and
            # DuckDB (rint-class) disagree — 3 docs did at sf0.1 (r10)
            (
                F.floor(
                    F.col("_sum_bits").cast("double")
                    / F.col("n_tokens")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("bits_per_token"),
        )
        .localCheckpoint()
    )
    vocab.unpersist()
    return out
