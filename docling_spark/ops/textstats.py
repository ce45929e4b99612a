"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All JVM-side built-ins (regexp/arrays/windows) —
these run inside whole-stage codegen at the parquet scan, no UDFs, no extra
shuffle (narrow, per-row)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_spark.ops import portable as P

# Stopword cue lists per language (public, tiny — heuristic n-gram/stopword
# language ID in the FastText/langid tradition, re-expressed as regexp counts).
LANG_CUES = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "es": ["el", "la", "que", "de", "es"],
    "fr": ["le", "la", "et", "est", "les"],
}


def _cue_count(text_col: str, words) -> F.Column:
    # doubled backslashes: Spark SQL string literals consume one level
    pat = r"\\b(" + "|".join(words) + r")\\b"
    return F.size(F.expr(f"regexp_extract_all({text_col}, '{pat}', 0)"))


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, lang_guess, lang_score) — stopword-cue scoring; highest cue
    count wins, 'und' (undetermined) when no cues fire."""
    scores = [
        _cue_count(text_col, words).alias(f"score_{lang}")
        for lang, words in LANG_CUES.items()
    ]
    d = docs.select(F.col(id_col), *scores)
    langs = list(LANG_CUES)
    best_score = F.greatest(*[F.col(f"score_{l}") for l in langs])
    guess = F.lit("und")
    # deterministic tie-break: first language in fixed order wins
    for lang in reversed(langs):
        guess = F.when(
            (best_score > 0) & (F.col(f"score_{lang}") == best_score), F.lit(lang)
        ).otherwise(guess)
    return d.select(
        F.col(id_col),
        guess.alias("lang_guess"),
        best_score.cast("long").alias("lang_score"),
    )


def token_count(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens_ws, n_tokens_bpe) — whitespace tokens and a BPE-ish
    subword proxy (runs of letters / digits / single punctuation)."""
    return docs.select(
        F.col(id_col),
        F.size(F.expr(P.tokens_spark(text_col))).cast("long").alias("n_tokens_ws"),
        F.size(
            F.expr(f"regexp_extract_all({text_col}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)")
        ).cast("long").alias("n_tokens_bpe"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, punct_ratio, stopword_ratio, quality) — the classic
    cheap quality gates (Gopher/C4-style rules, public)."""
    n_chars = F.length(F.col(text_col)).cast("long")
    n_tokens = F.size(F.expr(P.tokens_spark(text_col)))
    n_punct = F.size(F.expr(f"regexp_extract_all({text_col}, '[.,;:!?]', 0)"))
    stop = _cue_count(text_col, [w for ws in LANG_CUES.values() for w in ws])
    punct_ratio = F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double"), 6)
    stop_ratio = F.round(stop.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"), 6)
    quality = F.round(
        F.least(n_chars.cast("double") / F.lit(500.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(20.0), F.lit(1.0))) * 0.2,
        6,
    )
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars_computed"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def pii_scrub(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, scrubbed, n_emails, n_phones) — redact emails and long digit
    runs (the standard pre-training scrub), counting what was removed.
    Pure regexp_replace/regexp_extract_all — codegen, narrow."""
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone = r"\+?[0-9][0-9 \-]{7,}[0-9]"
    # SQL string literals eat one backslash level inside F.expr
    email_sql = email.replace("\\", "\\\\")
    phone_sql = phone.replace("\\", "\\\\")
    email_scrubbed = F.regexp_replace(F.col(text_col), email, "<EMAIL>")
    scrubbed = F.regexp_replace(email_scrubbed, phone, "<PHONE>")
    # n_phones counts on the email-scrubbed intermediate so the counts equal
    # the redactions actually performed (a digit run inside an email local
    # part is redacted as <EMAIL>, and must not also count as a phone)
    email_scrubbed_sql = f"regexp_replace({text_col}, '{email_sql}', '<EMAIL>')"
    return docs.select(
        F.col(id_col),
        scrubbed.alias("scrubbed"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{email_sql}', 0)")).cast("long").alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all({email_scrubbed_sql}, '{phone_sql}', 0)")).cast("long").alias("n_phones"),
    )


def curation_pipeline(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", min_quality: float = 0.5,
                      lang: str = "en") -> DataFrame:
    """The composed training-data curation pass: quality gate + language
    filter + exact-dedup keep-first (lowest doc_id per identical text).

    One narrow scan feeds all three signals; the only exchange is the dedup
    hash shuffle — at 100 TB this is the same single-shuffle shape as
    exact_dup_groups (hash + id, never the text twice)."""
    from pyspark.sql.window import Window

    q = quality_score(docs, id_col, text_col).select(id_col, "quality")
    l = lang_id(docs, id_col, text_col).select(id_col, "lang_guess")
    w = Window.partitionBy("text_hash").orderBy(F.col(id_col).asc())
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .withColumn("dup_rank", F.row_number().over(w))
        .join(q, id_col)
        .join(l, id_col)
        .filter(
            (F.col("dup_rank") == 1)
            & (F.col("lang_guess") == lang)
            & (F.col("quality") >= min_quality)
        )
        .select(
            F.col(id_col),
            "text_hash",
            F.floor(F.col("quality") * 1_000_000).cast("long").alias("quality_e6"),
        )
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, top_token_count, n_bigrams, top_bigram_count) —
    the Gopher-style repetition signals (most-frequent-word fraction,
    most-frequent-2-gram fraction) as exact integers; callers derive ratios.

    Shape at scale: explode → partial+final hash agg keyed (doc_id, gram) →
    per-doc max/sum. Both aggregations map-side combine, so the shuffle
    carries one row per distinct gram per doc, never the token stream."""
    toks = docs.select(
        F.col(id_col), F.expr(P.tokens_spark(text_col)).alias("_tk")
    )
    uni = (
        toks.select(id_col, F.explode("_tk").alias("g"))
        .groupBy(id_col, "g").agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.max("c").cast("long").alias("top_token_count"),
        )
    )
    bi = (
        toks.select(
            id_col,
            F.explode(F.expr(P.ngrams_all_from_tokens_spark("_tk", 2))).alias("g"),
        )
        .groupBy(id_col, "g").agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.max("c").cast("long").alias("top_bigram_count"),
        )
    )
    return uni.join(bi, id_col, "left").select(
        id_col,
        "n_tokens",
        "top_token_count",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(F.col("top_bigram_count"), F.lit(0)).cast("long").alias("top_bigram_count"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint) — order-sensitive rolling hash over token hashes
    (portable across engines; see ops.portable)."""
    return docs.select(
        F.col(id_col),
        F.expr(P.fingerprint_spark(text_col)).cast("long").alias("fingerprint"),
    )


def decontaminate(docs: DataFrame, eval_docs: DataFrame, n: int = 5,
                  min_shared: int = 1, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, n_shared_grams, contaminated) — flag training documents
    sharing ≥ `min_shared` distinct exact word n-grams with an evaluation
    set: the n-gram-overlap decontamination of the LLM-corpus literature
    (GPT-3 appendix C: 13-gram overlap; Gopher §A.3) re-expressed as an
    equi-join on 8-byte gram hashes.

    Scale shape: both sides explode to (id, gram_hash) — only hashes
    shuffle, never text; the eval side is typically tiny (benchmarks) so
    AQE broadcasts it, and the per-doc count is a partial-aggregated
    groupBy. Every training doc comes back (left join, 0 when clean)."""
    grams = P.ngrams_from_tokens_spark("_tk", n)

    def gram_hashes(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(F.col(id_col).alias(out_id),
                      F.expr(P.tokens_spark(text_col)).alias("_tk"))
            .select(out_id, F.explode(F.expr(grams)).alias("_g"))
            .select(out_id, F.expr(P.token_hash_spark("_g")).alias("gh"))
        )
    corpus = gram_hashes(docs, "doc_id")
    evals = gram_hashes(eval_docs, "eval_id").select("gh").distinct()
    shared = (
        corpus.join(evals, "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_shared_grams"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) >= min_shared).alias("contaminated"),
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", min_words: int = 50,
                 max_words: int = 100_000, min_stopwords: int = 2) -> DataFrame:
    """The Gopher quality-filter rule battery (Rae et al. 2021, appendix
    A.2 — the public MassiveWeb heuristics) as explicit per-rule booleans,
    the auditable form a curation pipeline wants (C4-blend scoring lives in
    quality_score; this is the rule-by-rule verdict):

      ok_word_count      50 ≤ words ≤ 100,000
      ok_mean_word_len   3 ≤ mean word length ≤ 10
      ok_symbol_ratio    (# + …) / words < 0.1
      ok_alpha_words     ≥ 80% of words contain a letter
      ok_stopwords       ≥ min_stopwords distinct Gopher stop words present
                         (Gopher's 2; tune per corpus — the testdata word
                         salad carries only 'the', so corpus-tuned passes
                         use 1, exactly the per-corpus threshold tuning the
                         paper itself applies)
      pass_gopher        all of the above

    (The bullet/ellipsis LINE rules apply to line-structured pages; on a
    corpus without newlines they are vacuously true and omitted. The
    repetition thresholds — top-gram fractions — read off
    repetition_stats, kept separate so its (doc_id, gram) shuffle isn't
    forced on rule-only callers.)

    Shape at 100 TB: one narrow projection — every rule is a regexp/array
    fold over the row, no shuffle, fused into the scan. The token array is
    materialized ONCE (`_tk`) before the rule columns: Spark does no CSE
    inside higher-order functions, so inlining `tokens_spark` into each of
    the five rules would re-run the regexp split 5× per document (the
    exact trap ops/dedup.py:55 documents for minhash)."""
    docs = docs.withColumn("_tk", F.expr(P.tokens_spark(text_col)))
    toks = F.col("_tk")
    n_words = F.size(toks).cast("long")
    mean_len = F.expr(
        "aggregate(transform(_tk, t -> length(t)), 0L, (s, x) -> s + x)"
    ).cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    n_symbols = F.size(F.expr(
        f"regexp_extract_all({text_col}, '#|\\\\.\\\\.\\\\.|…', 0)"))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Zá-žÁ-Ž]")))
    n_stop = F.size(F.filter(
        F.array_distinct(F.transform(toks, lambda t: F.lower(t))),
        lambda t: t.isin(*GOPHER_STOPWORDS),
    ))
    ok_wc = (n_words >= min_words) & (n_words <= max_words)
    ok_mwl = (mean_len >= 3.0) & (mean_len <= 10.0)
    ok_sym = n_symbols.cast("double") < 0.1 * F.greatest(n_words, F.lit(1)).cast("double")
    ok_alpha = n_alpha.cast("double") * 10 >= n_words.cast("double") * 8
    ok_stop = n_stop >= min_stopwords
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.floor(mean_len * 1_000_000).cast("long").alias("mean_word_len_e6"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("pass_gopher"),
    )


def c4_clean(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             min_words: int = 3, min_sentences: int = 3, span: int = 3,
             sentence_delims: str = "[.!?]", words_per_sentence: int = 12,
             policy_words=("lorem ipsum", "javascript", "{")) -> DataFrame:
    """The C4 cleaning pass (Raffel et al., JMLR 2020 §2.2 — the public
    recipe behind the C4/T5 corpus) as one composable operator:

      1. segment each document into sentences — on terminal punctuation
         when the corpus has it (`sentence_delims`), else a deterministic
         every-`words_per_sentence`-words fallback (the /root/testdata
         documents table is a bare word stream);
      2. drop documents containing a policy word (C4 drops pages with
         "lorem ipsum", the brace "{" of leaked code, and its bad-word
         list — represented here by the small public `policy_words`);
      3. drop sentences with fewer than `min_words` words;
      4. DATASET-level span dedup: any `span`-sentence sliding window that
         occurs more than once in the corpus is kept only at its first
         occurrence (lowest (doc_id, position)) and excised everywhere
         else — C4's "three-sentence span" rule, the sentence-granularity
         sibling of remove_duplicate_substrings (Lee et al. ACL'22);
      5. drop documents left with fewer than `min_sentences` sentences.

    Returns (doc_id, clean_text, n_sentences, n_dropped_dup) for surviving
    documents.

    Scale shape: the only wide exchange is the span-hash groupBy/join, and
    it carries (8-byte hash, doc_id, pos) — never sentence text. The
    first-occurrence winner is `min(struct(doc_id, pos))` (map-side
    combinable); excised positions flow back on a hash equi-join keyed by
    (doc_id, pos). At 100 TB this is the exact shuffle profile of
    shared_window_pairs, which the sf1 scale-step demo measured flat."""
    toks = F.expr(P.tokens_spark(text_col))
    has_delim = F.col(text_col).rlike(sentence_delims)
    # sentence array: regexp split on terminals, or k-word regrouping
    regroup = F.expr(
        f"transform(sequence(0, (size({P.tokens_spark(text_col)}) - 1) DIV {words_per_sentence}), "
        f"i -> array_join(slice({P.tokens_spark(text_col)}, i * {words_per_sentence} + 1, {words_per_sentence}), ' '))"
    )
    split_sents = F.expr(
        f"filter(transform(split({text_col}, '{sentence_delims}'), s -> trim(s)), s -> s != '')"
    )
    policy = F.lit(False)
    for w in policy_words:
        policy = policy | F.col(text_col).contains(w)
    sents = (
        docs.filter(~policy)
        .select(
            F.col(id_col).alias("doc_id"),
            F.when(has_delim, split_sents).otherwise(regroup).alias("_sents"),
        )
        .select("doc_id", F.posexplode("_sents").alias("raw_pos", "sent"))
        .filter(F.size(F.expr(P.tokens_spark("sent"))) >= min_words)
    )
    from pyspark.sql.window import Window

    # re-number surviving sentences so spans are over the FILTERED stream
    # (C4 applies the line filters before the span dedup)
    pos_w = Window.partitionBy("doc_id").orderBy("raw_pos")
    sents = sents.withColumn("pos", F.row_number().over(pos_w) - 1).drop("raw_pos")
    sents = sents.localCheckpoint(eager=False)

    lead_cols = [F.col("sent")] + [
        F.lead("sent", i).over(pos_w.orderBy("pos")) for i in range(1, span)
    ]
    # the window's sentences join on U+001F, the oracle's chr(31)
    # (__spark_entry__.py:2355): "ab" + "c" must not hash like "a" + "bc"
    spans_df = (
        sents.withColumn("_w", F.concat_ws("\x1f", *lead_cols))
        .withColumn(
            "_full",
            F.lead("sent", span - 1).over(Window.partitionBy("doc_id").orderBy("pos")).isNotNull(),
        )
        .filter(F.col("_full"))
        .select("doc_id", "pos", F.md5("_w").alias("wh"))
    )
    dup_w = (
        spans_df.groupBy("wh")
        .agg(F.count("*").alias("n"), F.min(F.struct("doc_id", "pos")).alias("first"))
        .filter(F.col("n") > 1)
    )
    # positions excised: every occurrence of a duplicated span EXCEPT the
    # first keeps nothing; the window covers pos..pos+span-1
    excised = (
        spans_df.join(dup_w, "wh")
        .filter(~((F.col("doc_id") == F.col("first.doc_id")) & (F.col("pos") == F.col("first.pos"))))
        .select("doc_id", F.explode(F.expr(f"sequence(pos, pos + {span - 1})")).alias("pos"))
        .distinct()
    )
    kept = sents.join(excised, ["doc_id", "pos"], "left_anti")
    dropped = excised.groupBy("doc_id").agg(F.count("*").alias("n_dropped_dup"))
    # complete accounting: every doc with ≥1 line-filtered sentence appears,
    # with survived=false when the span dedup (or the line filters) left it
    # under min_sentences — C4 reports what was removed, not just what stayed
    doc_list = sents.select("doc_id").distinct()
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "sent"))), lambda s: s["sent"]),
            ". ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_sentences"),
    )
    return (
        doc_list.join(agg, "doc_id", "left")
        .join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_sentences", F.lit(0)).cast("long").alias("n_sentences"),
            F.coalesce("n_dropped_dup", F.lit(0)).cast("long").alias("n_dropped_dup"),
            (F.coalesce("n_sentences", F.lit(0)) >= min_sentences).alias("survived"),
        )
    )


def stratified_sample(docs: DataFrame, rates: dict, key_col: str = "lang",
                      default_rate: float = 0.0, id_col: str = "doc_id",
                      denom: int = 1_000_000) -> DataFrame:
    """Deterministic hash-based stratified sampling — the data-mixing
    primitive (per-domain/language rates): keep a doc iff
    (id·MIX mod P) mod denom < rate[stratum]·denom.

    No RNG state: the decision is a pure function of doc_id, so the sample
    is reproducible across cluster sizes, re-runs, and engines (exact
    integer arithmetic shared with the DuckDB oracle), and a rerun after a
    rate bump is a SUPERSET of the previous sample (monotone thresholds —
    incremental top-ups don't reshuffle what was already kept). Narrow:
    filter only, no shuffle."""
    # id reduced mod P BEFORE the multiply: (id % P) · MIX ≤ 1e9 · 2.7e9
    # < int64 max, so the arithmetic never overflows even at 10^12-scale
    # ids. The inner (x % P + P) % P folds negative ids into [0, P) — both
    # engines' % truncates toward zero, so a bare % would give a NEGATIVE
    # bucket for a negative id, which compares below every threshold and
    # silently keeps the row at any rate.
    bucket = F.expr(
        f"((((CAST({id_col} AS BIGINT) % {P.MOD} + {P.MOD}) % {P.MOD})"
        f" * {P._MIX}L) % {P.MOD}) % {denom}"
    )
    thresh = F.lit(int(default_rate * denom))
    for key, rate in sorted(rates.items()):
        thresh = F.when(F.col(key_col) == key, F.lit(int(rate * denom))).otherwise(thresh)
    return docs.filter(bucket < thresh)
