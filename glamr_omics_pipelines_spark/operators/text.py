"""Text-analysis operators for corpus curation (BASELINE.json north-star ext.).

All pure builtin expressions — whole-stage-codegen'd, no Python UDFs.
Heuristics intentionally simple + deterministic (so the duckdb oracle can
mirror them exactly); swap the marker tables for real models at deployment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic; deterministic + mirrorable in ANSI SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "und", "das", "ist"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(text_col) -> Column:
    """Whitespace tokenization, empty-safe."""
    return F.filter(F.split(F.col(text_col) if isinstance(text_col, str) else text_col,
                            r"\s+"), lambda t: t != "")


def lower_tokens(text_col) -> Column:
    """Lowercased whitespace tokens: lower() runs ONCE per string inside
    codegen instead of per token through an interpreted HOF lambda
    (A/B ~20% faster tokenize stage at sf0.1; value-identical — \\s+
    splitting is case-insensitive)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return tokens(F.lower(c))


def token_count(df: DataFrame, text_col: str, out: str = "n_tokens") -> DataFrame:
    """Whitespace-token count via ONE regex scan: regexp_count(\\S+) equals
    array_size(tokens(..)) for every string (tokens() drops empties, and
    maximal non-space runs ARE the non-empty split fields) but never
    materializes the token array (~25% less expression work at sf0.1 and
    zero per-row allocation — matters at corpus scale)."""
    return df.withColumn(out, F.regexp_count(
        F.col(text_col), F.lit(r"\S+")).cast("int"))


def bpe_ish_token_count(df: DataFrame, text_col: str,
                        out: str = "n_bpe_tokens") -> DataFrame:
    """BPE-approximating token count: runs of letters, runs of digits, or a
    single other non-space char each count as one token (the usual ~regex
    pre-tokenizer shape)."""
    return df.withColumn(
        out, F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Length/punct/stopword quality features + a composite score in [0,1].

    score = 0.4*saturating(n_tokens/100) + 0.3*(1-punct_ratio)
          + 0.3*saturating(stopword_ratio*5)  — a deterministic stand-in for
    a learned quality model; the Spark value is the feature plumbing.
    """
    # materialize the token array once (see lang_id) — every downstream
    # feature then reads a column, not its own copy of the regex tokenizer.
    # LOWERCASED tokens: lower() runs once per string in codegen instead of
    # once per token through the interpreted HOF lambda below (interleaved
    # A/B at sf0.1: the stopword filter alone is ~2x faster; \s+ splitting
    # is case-insensitive so counts and ratios are value-identical).
    df = df.withColumn("_toks", lower_tokens(text_col))
    toks = F.col("_toks")
    n_tok = F.array_size(toks)
    n_chars = F.length(text_col)
    punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.array_size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1))
    avg_tok_len = (n_chars - n_tok + 1) / F.greatest(n_tok, F.lit(1))
    score = (F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
             + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
             + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0)))
    return (df.withColumn("n_tokens", n_tok)
            .withColumn("punct_ratio", punct_ratio)
            .withColumn("stopword_ratio", stop_ratio)
            .withColumn("avg_token_len", avg_tok_len)
            .withColumn("quality_score", score)
            .drop("_toks"))


def lang_id(df: DataFrame, text_col: str, out: str = "pred_lang",
            default: str = "und") -> DataFrame:
    """Marker-word language ID: argmax of per-language marker hit counts,
    ties broken by language code order; no hits → ``default``."""
    # tokenize + lowercase ONCE in a materialized projection: embedding the
    # split/transform tree into every language's score would re-run the regex
    # tokenizer |langs| times per row (it dominates the runtime), and
    # CollapseProject keeps a non-cheap multi-referenced alias un-inlined.
    lowered = lower_tokens(text_col)
    df = df.withColumn("_lc_toks", lowered)
    toks = F.col("_lc_toks")
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        cnt = F.array_size(F.filter(toks, lambda t: F.array_contains(markers, t)))
        scores.append(F.struct(cnt.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*[
        F.struct(s.score.alias("score"),
                 # invert lang for tie-break: array_max picks the largest
                 # struct lexicographically → on tied score the *latest* lang
                 # wins; negate by comparing on score only via stable order
                 s.lang.alias("lang")) for s in scores]))
    # array_max on (score, lang) breaks ties toward the lexicographically
    # larger lang; to break toward the smaller one, order langs descending
    # when building and it flips — instead keep it simple and deterministic:
    # ties → lexicographically larger code. Documented contract.
    # `best` is referenced TWICE in the CASE below; materialize it in its
    # own projection (the _lc_toks trick again) so the |langs| marker-count
    # filters run once per row, not once per reference — inlined, the plan
    # duplicated the whole array_max tree (8 token scans instead of 4;
    # plans/r11/lang_id_before.txt) for ~2x the row cost.
    df = df.withColumn("_best", best)
    b = F.col("_best")
    return df.withColumn(
        out, F.when(b.getField("score") > 0, b.getField("lang"))
        .otherwise(F.lit(default))).drop("_lc_toks", "_best")


def vocab_topk(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency (count desc, token asc —
    a total order, so the cut is deterministic). Explode → count is fully
    partial-aggregated map-side; the shuffle carries one row per distinct
    token per partition, and the final top-k is a TakeOrdered, not a global
    sort."""
    toks = df.select(F.explode(lower_tokens(text_col)).alias("token"))
    return (toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("token").asc()).limit(k))


def repetition_metrics(df: DataFrame, text_col: str) -> DataFrame:
    """Gopher-style within-document repetition signals (quality gates used by
    large-scale corpus curation: drop docs dominated by repeated n-grams).

    Adds, per document (all row-local higher-order expressions — zero
    shuffle, the metrics are scan-stage predicates at 100 TB):
      - ``dup_word_frac``: 1 - distinct_words / words
      - ``dup_bigram_frac``: 1 - distinct_bigrams / bigrams
      - ``top_bigram_frac``: occurrences of the most frequent word bigram /
        total bigrams (the "fraction in most common 2-gram" Gopher rule)
    Documents with <2 words score 0 on bigram metrics; empty docs score 0.
    The per-doc cost is O(words + distinct_bigrams × bigrams) — bounded by
    document length, independent of corpus size.
    """
    df = df.withColumn("_w", lower_tokens(text_col))
    w = F.col("_w")
    n = F.array_size(w)
    dup_word = F.when(n <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.array_size(F.array_distinct(w)) / n)
    bg = F.transform(F.sequence(F.lit(1), n - 1),
                     lambda i: F.concat_ws(" ", F.get(w, i - 1), F.get(w, i)))
    df = df.withColumn("_bg", F.when(n >= 2, bg).otherwise(
        F.array().cast("array<string>")))
    b = F.col("_bg")
    nb = F.array_size(b)
    dup_bigram = F.when(nb <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.array_size(F.array_distinct(b)) / nb)
    # most-frequent-bigram count via sort + longest-equal-run fold: O(B log B)
    # per doc. (The obvious distinct×filter counting is O(B²) — quadratic in
    # document length, a real hazard on 100k-word documents.)
    run0 = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"))
    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))
    top_cnt = F.aggregate(F.array_sort(b), run0, _step)["best"]
    top_bigram = F.when(nb <= 0, F.lit(0.0)).otherwise(top_cnt / nb)
    return (df.withColumn("dup_word_frac", dup_word)
            .withColumn("dup_bigram_frac", dup_bigram)
            .withColumn("top_bigram_frac", top_bigram)
            .drop("_w", "_bg"))


# Deterministic, RE2-and-Java-compatible redaction patterns (no backrefs, no
# lookaround) so the DuckDB oracle can apply the identical regexes.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\+?[0-9][0-9() \-]{6,}[0-9]", "<PHONE>"),
]


def scrub_pii(df: DataFrame, text_col: str, out: str = "clean_text") -> DataFrame:
    """Redact emails, URLs and phone-like numbers (training-data curation
    stage). Chain of JVM regexp_replace — codegen'd, order matters (emails
    before phones so the digits in a local-part are not half-eaten).
    ``n_emails``/``n_urls``/``n_phones`` count ACTUAL redactions per kind:
    each count runs against the text as it stood when that pattern was
    applied (a digit run inside a URL is one <URL> redaction, not also a
    phone), so the counts reconcile exactly with placeholder occurrences in
    ``out``."""
    (email, e_repl), (url, u_repl), (phone, p_repl) = PII_PATTERNS
    # intermediate texts pinned as columns: each feeds a count AND the next
    # replace, and a multi-referenced regex tree would otherwise re-run per
    # reference (same rule as HOF-shared subtrees)
    df = df.withColumn("_t1", F.regexp_replace(F.col(text_col), email, e_repl))
    df = df.withColumn("_t2", F.regexp_replace(F.col("_t1"), url, u_repl))
    return (df.withColumn("n_emails", F.regexp_count(F.col(text_col), F.lit(email)))
            .withColumn("n_urls", F.regexp_count(F.col("_t1"), F.lit(url)))
            .withColumn("n_phones", F.regexp_count(F.col("_t2"), F.lit(phone)))
            .withColumn(out, F.regexp_replace(F.col("_t2"), phone, p_repl))
            .drop("_t1", "_t2"))


def ngram_contamination(df: DataFrame, id_col: str, text_col: str,
                        split_col: str, n: int = 8,
                        train_value: str = "train",
                        check_values: tuple = ("val", "test")) -> DataFrame:
    """Test-set decontamination check: for each val/test document, count its
    word ``n``-grams that ALSO appear anywhere in the train split — the
    standard eval-contamination sweep run before training on a corpus whose
    splits may contain near-copies.

    Per-doc distinct n-grams are built row-locally (HOFs, zero shuffle),
    then one shuffled equi join against the distinct train-gram set. Joins
    on the gram STRING for oracle parity; at 100 TB join on
    ``xxhash64(gram)`` instead so the exchange carries 8-byte keys.
    Docs shorter than ``n`` words can't be contaminated and produce no row,
    as do clean docs (inner-join semantics: the output is the audit list).
    """
    df2 = df.withColumn("_w", lower_tokens(text_col))
    w = F.col("_w")
    k = F.array_size(w) - (n - 1)
    grams_arr = F.when(k >= 1, F.array_distinct(
        F.transform(F.sequence(F.lit(1), k),
                    lambda i: F.concat_ws(" ", F.slice(w, i, n))))) \
        .otherwise(F.array().cast("array<string>"))
    from glamr_omics_pipelines_spark.operators import _cache
    # the exploded gram frame feeds BOTH the train-distinct branch and the
    # val/test probe side; persist (released via _cache.release_caches()) so
    # the tokenize+n-gram explode — the dominant cost — runs once, not twice
    g = _cache.register(df2.select(F.col(id_col), F.col(split_col),
                                   F.explode(grams_arr).alias("gram")))
    train_g = (g.filter(F.col(split_col) == train_value)
               .select("gram").distinct())
    check = g.filter(F.col(split_col).isin(*check_values))
    return (check.join(train_g, "gram")
            .groupBy(id_col, split_col)
            .agg(F.count(F.lit(1)).alias("n_shared")))


def unigram_lm_score(df: DataFrame, id_col: str, text_col: str,
                     out: str = "lm_score") -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own empirical
    unigram distribution — the classic cheap perplexity-style quality signal
    (docs full of globally-rare tokens score low; swap the self-trained
    vocabulary for a reference-corpus table to score against clean text, as
    CCNet does with a real LM).

    Two aggregations + one token join: vocabulary counts partial-aggregate
    map-side; the logprob table is token-grain (small relative to the corpus
    — Catalyst auto-broadcasts under the threshold, and at web-scale vocab
    it degrades to a plain shuffled equi join, still O(tokens)). Docs with
    zero tokens produce no row (no distribution to score under).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(lower_tokens(text_col)).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_c"))
    total = vocab.agg(F.sum("_c").alias("_t"))
    logp = (vocab.crossJoin(F.broadcast(total))
            .select("token", F.log(F.col("_c") / F.col("_t")).alias("_logp")))
    return (toks.join(logp, "token")
            .groupBy(id_col)
            .agg(F.avg("_logp").alias(out),
                 F.count(F.lit(1)).alias("n_tokens")))


def doc_fingerprint(df: DataFrame, text_col: str, prefix_len: int = 64,
                    out: str = "fingerprint") -> DataFrame:
    """Deterministic rolling polynomial hash of the first ``prefix_len`` chars:
    h = fold(h*31 + ascii(c)) mod 1e9+7 — integer arithmetic, exact, and
    reproducible in any SQL engine (the duckdb oracle mirrors it)."""
    chars = F.split(F.substring(F.col(text_col), 1, prefix_len), "")
    chars = F.filter(chars, lambda c: c != "")
    h = F.aggregate(chars, F.lit(0).cast("bigint"),
                    lambda acc, c: (acc * 31 + F.ascii(c)) % F.lit(1000000007))
    return df.withColumn(out, h)


def normalize_text(df: DataFrame, text_col: str,
                   out: str = "norm_text") -> DataFrame:
    """Text canonicalization ahead of dedup/tokenization: strip markup tags,
    fold all whitespace runs (spaces, tabs, newlines) to a single space, and
    trim. Canonicalizing BEFORE hashing is what makes exact dedup robust to
    formatting-only differences (same article, different wrapping).

    Pure codegen'd regexp_replace chain — scan-stage, row-local, zero
    shuffle at any scale. The whitespace class is EXPLICIT rather than \\s:
    Java's \\s matches vertical tab but RE2's (DuckDB/Go engines) does not,
    so \\s would silently break the byte-for-byte cross-engine agreement
    canonical dedup keys depend on.
    """
    c = F.regexp_replace(F.col(text_col), r"<[^>]*>", " ")
    c = F.regexp_replace(c, "[ \\t\\n\\x0B\\f\\r]+", " ")
    return df.withColumn(out, F.trim(c))


def tfidf_topk(df: DataFrame, id_col: str, text_col: str,
               top_terms: int = 3, rank_round: int | None = 6) -> DataFrame:
    """Per-document top TF-IDF terms: tf = in-doc count, idf = ln(N/df),
    score = tf·idf; keep the ``top_terms`` highest-scoring terms per doc
    (score desc, term asc — deterministic). The classic keyword/topic
    signal for corpus exploration and near-topic dedup.

    Scale shape: ONE explode of the corpus into (doc, term, tf) via a
    map-side partial agg; document frequency is a second partial agg at term
    grain whose output is vocabulary-sized (≪ corpus) and auto-broadcast
    back; the final per-doc top-k is a bounded rank window partitioned by
    doc. No all-pairs anything, no driver materialization.

    ``rank_round`` ranks on round(tfidf, d) (term asc tiebreak) so float ulp
    differences between engines cannot flip the top-k cut; None ranks on the
    raw double.
    """
    toks = df.select(F.col(id_col),
                     F.explode(lower_tokens(text_col))
                     .alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("_n"))
    docfreq = (tf.groupBy("term")
               .agg(F.countDistinct(id_col).alias("df_count")))
    scored = (tf.join(F.broadcast(docfreq), "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("tfidf",
                          F.col("tf") * F.log(F.col("_n") / F.col("df_count")))
              .drop("_n"))
    from pyspark.sql import Window
    rank_key = (F.col("tfidf") if rank_round is None
                else F.round("tfidf", rank_round))
    w = (Window.partitionBy(id_col)
         .orderBy(rank_key.desc(), F.col("term").asc()))
    return (scored.withColumn("term_rank", F.row_number().over(w))
            .filter(F.col("term_rank") <= top_terms))


def pmi_collocations(df: DataFrame, text_col: str, min_count: int = 5,
                     top_k: int = 50, pmi_round: int = 6) -> DataFrame:
    """Corpus-level bigram collocations ranked by pointwise mutual
    information: PMI(a,b) = ln(N · c(a,b) / (c(a)·c(b))) over CONSECUTIVE
    lowercase token pairs, where N is the total bigram count and the
    unigram counts c(·) are taken over bigram slots (first-token counts),
    so the probabilities share one sample space. The standard
    collocation/multi-word-expression detector (Church & Hanks 1990);
    ``min_count`` suppresses the low-frequency PMI explosion.

    Scale shape: consecutive pairs only — the explode is O(tokens), never
    the O(tokens²) all-pairs blowup; bigram and unigram counts are
    vocabulary-sized partial aggs (map-side combine collapses each
    partition to its distinct grams before any exchange); the two
    unigram-count attachments are broadcast joins; final ranking is one
    TakeOrdered over round(pmi, 6) (bigram asc tiebreak) so float ulps
    can't flip the cut. No windows, no Python, no corpus-sized shuffle.
    """
    # materialize the token array BEFORE the pairing lambda: a HOF lambda
    # inlines whatever tree it references and evaluates it interpreted, so
    # an unpinned `toks` would re-run the full tokenization for EVERY
    # element_at probe — O(tokens²) per document (measured ~10x on the
    # sf0.1 bench; same trap as sliding_window_trim's _p/_f pinning)
    d = df.select(lower_tokens(text_col).alias("_toks"))
    n = F.array_size(F.col("_toks"))
    pair_idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
        .otherwise(F.array().cast("array<int>"))
    pairs = d.select(
        F.explode(F.transform(pair_idx,
                              lambda i: F.struct(
                                  F.element_at("_toks", i).alias("a"),
                                  F.element_at("_toks", i + 1).alias("b"))))
        .alias("_p")).select("_p.a", "_p.b")
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    left_u = big.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    right_u = big.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    total = big.select(F.sum("c_ab").alias("_n_big"))
    scored = (big.filter(F.col("c_ab") >= min_count)
              .join(F.broadcast(left_u), "a")
              .join(F.broadcast(right_u), "b")
              .crossJoin(F.broadcast(total))
              .withColumn(
                  "pmi",
                  F.round(F.log(F.col("_n_big") * F.col("c_ab")
                                / (F.col("c_a") * F.col("c_b"))), pmi_round))
              .drop("_n_big"))
    return (scored.select("a", "b", "c_ab", "pmi")
            .orderBy(F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(top_k))


def chunk_tokens(df: DataFrame, id_col: str, text_col: str,
                 size: int = 256, stride: int = 128) -> DataFrame:
    """Sliding-window document chunking for context-length-bounded training:
    whitespace tokens windowed into chunks of ``size`` tokens every
    ``stride`` tokens (overlap = size − stride), the standard chunking step
    before packing/embedding in an LLM data pipeline.

    Pure JVM higher-order functions — sequence of window starts,
    posexplode, slice, array_join; no Python, no shuffle (chunking is
    row-local; a document's chunks stay on its partition). Empty documents
    produce no chunks; the final partial window is kept (standard sliding
    semantics).

    Output: id col + ``chunk_id`` (0-based), ``chunk_text``, ``n_tokens``.
    """
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    d = df.withColumn("_toks", tokens(text_col))
    d = d.filter(F.array_size("_toks") > 0)
    starts = F.sequence(F.lit(0), F.array_size("_toks") - 1, F.lit(stride))
    d = d.select(F.col(id_col), "_toks",
                 F.posexplode(starts).alias("chunk_id", "_start"))
    chunk = F.slice("_toks", F.col("_start") + 1, size)
    return d.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.array_size(chunk).cast("bigint").alias("n_tokens"))


def inverted_index(df: DataFrame, id_col: str, text_col: str,
                   max_postings: int = 1000) -> DataFrame:
    """Term → posting-list inverted index: per lowercased token, its
    document frequency and the sorted doc-id posting list, capped at
    ``max_postings`` ids (the cap recorded honestly via ``df_count`` vs
    ``len(postings)``, never silently). The retrieval-side primitive a
    corpus search / contamination-lookup service builds from the same
    tokenize-once scan as vocab_topk.

    Distinct (term, doc) pairs partial-agg map-side; the posting list is a
    bounded slice of sort_array(collect_set(...)) — at web scale a
    stop-word's full posting list is corpus-sized, so the cap is the
    operator's contract, not an optimization: df_count stays exact while
    the materialized list is the top-``max_postings`` smallest ids
    (deterministic cut).
    """
    pairs = (df.select(F.explode(lower_tokens(text_col))
                       .alias("term"), F.col(id_col).alias("_id"))
             .distinct())
    return (pairs.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df_count"),
                 F.slice(F.sort_array(F.collect_set("_id")), 1, max_postings)
                 .alias("postings")))


# marker phrases whose presence drops a line in line_quality_filter (the
# RefinedWeb/CCNet "web-page artifact" line rules); lowercase substrings
LINE_BOILERPLATE_MARKERS = ["cookie", "javascript", "click here",
                            "all rights reserved"]


def line_quality_filter(df: DataFrame, text_col: str,
                        max_upper_ratio: float = 0.6,
                        max_digit_ratio: float = 0.5,
                        min_words: int = 3,
                        out: str = "clean_text") -> DataFrame:
    """Per-line INTRINSIC quality filtering (the RefinedWeb/CCNet line-wise
    correction rules — the complement of line_dedup, which needs cross-doc
    evidence; this one needs none): a line is dropped when it is
    (1) mostly uppercase (> ``max_upper_ratio`` of its letters — nav bars,
    SHOUTING headers), (2) mostly digits (> ``max_digit_ratio`` of its
    non-space chars — like/view counters), (3) shorter than ``min_words``
    words AND lacking terminal punctuation (stray fragments; short
    sentences that END are kept), or (4) carrying a boilerplate marker
    phrase (LINE_BOILERPLATE_MARKERS, case-insensitive). Surviving lines
    are rejoined in order; a fully-boilerplate document comes back as the
    empty string, never dropped.

    Entirely row-local higher-order functions over the line array — ZERO
    shuffle, no Python: at 100 TB this runs in the scan stage next to the
    document-level quality gates. Rule thresholds are deterministic and
    mirrored exactly by the DuckDB oracle.

    Output: input columns + ``out`` (cleaned text), ``n_lines``,
    ``n_removed_lines``.
    """
    def _letters(x):
        return F.regexp_replace(x, "[^A-Za-z]", "")

    def keep(x):
        letters = _letters(x)
        uppers = F.regexp_replace(x, "[^A-Z]", "")
        nonspace = F.regexp_replace(x, "\\s", "")
        digits = F.regexp_replace(x, "[^0-9]", "")
        n_words = F.array_size(F.filter(F.split(x, "\\s+"),
                                        lambda t: t != ""))
        shouty = (F.length(letters) > 0) & \
            (F.length(uppers) > F.length(letters) * max_upper_ratio)
        county = (F.length(nonspace) > 0) & \
            (F.length(digits) > F.length(nonspace) * max_digit_ratio)
        fragment = (n_words < min_words) & \
            ~F.trim(x).rlike("[.!?:]$")
        marker = F.lit(False)
        for m in LINE_BOILERPLATE_MARKERS:
            marker = marker | F.lower(x).contains(m)
        return ~(shouty | county | fragment | marker)

    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, keep)
    return (df.withColumn(out, F.array_join(kept, "\n"))
            .withColumn("n_lines", F.array_size(lines).cast("bigint"))
            .withColumn("n_removed_lines",
                        (F.array_size(lines) - F.array_size(kept))
                        .cast("bigint")))


def _wp_vocab_parts(vocab: list[str]) -> list[tuple[str, str, bool]]:
    """Validate a WordPiece vocab and split into (body, piece, cont)."""
    out = []
    seen = set()
    for p in vocab:
        if p in seen:
            raise ValueError(f"wordpiece_encode: duplicate piece {p!r}")
        seen.add(p)
        cont = p.startswith("##")
        body = p[2:] if cont else p
        if not body:
            raise ValueError(f"wordpiece_encode: empty-bodied piece {p!r}")
        out.append((body, p, cont))
    if not out:
        raise ValueError("wordpiece_encode: vocab is empty")
    return out


def wordpiece_encode(df: DataFrame, text_col: str | Column,
                     vocab: list[str], out: str = "wp_tokens",
                     unk: str = "[UNK]", max_steps: int = 12) -> DataFrame:
    """Apply a frozen WordPiece vocabulary to a corpus (the BERT greedy
    longest-match-first tokenizer — the second tokenizer family beside
    BPE's bpe_encode): per lowercased whitespace word, repeatedly take the
    LONGEST vocab piece matching a prefix of the remainder (continuation
    pieces are the ``##``-prefixed entries); a word with no match at any
    step — or one still unconsumed after ``max_steps`` pieces — becomes a
    single ``unk`` token (whole-word UNK, the BERT rule; with max_steps ≥
    the longest word length the cap is inert, since every step consumes
    ≥ 1 char).

    One Arrow-batched ``mapInPandas`` scan (zero shuffle) runs the greedy
    over a piece dict plus a per-task word cache, so each distinct word is
    encoded once per task and per-doc cost is independent of vocab size
    (30k-piece BERT vocabs tokenize in the scan stage). ``text_col`` is a
    column name or a Column; an existing ``out`` column is replaced.

    A tie between two matches is impossible: same length + same prefix ⇒
    identical body, and the cont flag separates ``x`` from ``##x``.
    NULL text stays NULL.
    """
    parts = _wp_vocab_parts(vocab)
    if max_steps <= 0:
        raise ValueError("wordpiece_encode: max_steps must be positive")
    starts = {b: p for b, p, c in parts if not c}
    conts = {b: p for b, p, c in parts if c}
    max_len = max(len(b) for b, _, _ in parts)
    src = F.col(text_col) if isinstance(text_col, str) else text_col
    if out in df.columns:          # withColumn-replace semantics
        df = df.drop(out)
    wc = "_wp_words"               # collision-checked scratch name
    while wc in df.columns:
        wc += "_"
    d = df.withColumn(wc, lower_tokens(src))

    def encode_word(word: str, cache: dict) -> list[str]:
        hit = cache.get(word)
        if hit is not None:
            return hit
        rest, toks = word, []
        for _ in range(max_steps):
            if not rest:
                break
            table = conts if toks else starts
            piece = None
            for ln in range(min(len(rest), max_len), 0, -1):
                piece = table.get(rest[:ln])
                if piece is not None:
                    rest = rest[ln:]
                    toks.append(piece)
                    break
            if piece is None:
                toks, rest = [unk], ""
                break
        if rest:
            toks = [unk]
        cache[word] = toks
        return toks

    def run(batches):
        cache: dict = {}
        for pdf in batches:
            res = []
            for words in pdf[wc]:
                if words is None:
                    res.append(None)
                    continue
                toks: list[str] = []
                for word in words:
                    toks.extend(encode_word(word, cache))
                res.append(toks)
            pdf = pdf.copy()
            pdf[out] = res
            yield pdf.drop(columns=[wc])

    from pyspark.sql.types import ArrayType, StringType, StructType
    schema = StructType(
        [f for f in d.schema.fields if f.name != wc]).add(
        out, ArrayType(StringType()))
    return d.mapInPandas(run, schema)


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              queries: list[tuple[str, str]], k1: float = 1.2,
              b: float = 0.75, top_k: int = 10,
              query_id: str = "query_id") -> DataFrame:
    """BM25 top-k retrieval (Robertson/Sparck-Jones; the Lucene/Okapi
    ranking) of corpus documents for a FROZEN query set — the retrieval
    step a curation pipeline runs for decontamination lookups, targeted
    quality audits, and eval-set neighborhood checks. ``queries`` is a
    list of (query_id, query_text) pairs (the frozen query set, literal
    like a tokenizer model — data-independent, so the oracle replicates
    it). idf uses Lucene's non-negative form ln(1+(N−df+0.5)/(df+0.5)).

    Scale shape: the corpus is tokenized ONCE per branch and the
    query-term ``isin`` filter lands BEFORE the only data-grain shuffle —
    term-frequency aggregation runs only over postings of the handful of
    query terms, so the shuffle is bounded by Σ df(query terms), never
    corpus-sized. Document length rides the explode scan as a sibling
    column (O(1) array_size — the Generate-sibling re-eval is free);
    corpus N/avgdl is a one-row broadcast attach (class_tfidf
    convention); df(term) re-aggregates the tf exchange (ReuseExchange —
    ≤ |query terms| rows, broadcast back). Final ranking is one bounded
    row_number window per query, ordered by round(score, 6) desc with an
    id tiebreak (the cosine_topk cross-engine-stable convention).

    Output: (query_id, id_col, bm25, rank), rank ≤ ``top_k``. Documents
    sharing no term with a query simply don't appear (score 0 rows are
    not materialized — at web scale they are the corpus).
    """
    if not queries:
        raise ValueError("bm25_topk: queries must be non-empty")
    if top_k <= 0:
        raise ValueError("bm25_topk: top_k must be positive")
    qrows = sorted({(qid, t) for qid, qtext in queries
                    for t in qtext.lower().split()})
    if not qrows:
        raise ValueError("bm25_topk: queries contain no terms")
    qterms = sorted({t for _, t in qrows})
    qdf = df.sparkSession.createDataFrame(
        qrows, schema=f"{query_id} string, term string")
    # one-row corpus stats (N, avgdl) — broadcast attach
    stats = (df.select(F.array_size(lower_tokens(text_col)).alias("_dl"))
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.avg("_dl").alias("_avgdl")))
    # tokenize-once scan; dl rides the explode as an O(1) sibling
    base = df.select(F.col(id_col).alias("_doc"),
                     lower_tokens(text_col).alias("_toks"))
    toks = base.select("_doc", F.array_size("_toks").alias("_dl"),
                       F.explode("_toks").alias("term"))
    tf = (toks.filter(F.col("term").isin(qterms))
          .groupBy("_doc", "term")
          .agg(F.count(F.lit(1)).alias("_tf"), F.max("_dl").alias("_dl")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(qdf), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("_idf", F.log(
                  F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5)
                  / (F.col("_df") + 0.5)))
              .withColumn("_w", F.col("_idf") * F.col("_tf") * (k1 + 1.0)
                          / (F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl")
                                                  / F.col("_avgdl")))))
    out = (scored.groupBy(query_id, F.col("_doc").alias(id_col))
           .agg(F.sum("_w").alias("bm25")))
    from pyspark.sql import Window
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("bm25"), 6).desc(), F.col(id_col).asc())
    return (out.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select(query_id, id_col, "bm25", "rank"))


def learn_bpe_merges(df: DataFrame, text_col: str,
                     num_merges: int = 10) -> list[tuple[str, str]]:
    """Learn byte-pair-encoding merge rules from a corpus (Sennrich et al.
    2016) — the tokenizer-TRAINING primitive of an LLM data pipeline (the
    inference-side counterpart is bpe_ish_token_count). Classic BPE over
    word-internal character symbols with ``</w>`` end-of-word markers.

    The hybrid iterative shape (same contract as IVF's Lloyd loop, X8):
    per round, pair counting is fully distributed — words stay aggregated
    at (word, count) grain (vocabulary-sized, NOT corpus-sized; the corpus
    is scanned exactly once), symbol-pair counts are an explode +
    partial agg, and only the single argmax pair row is collected to the
    driver per round (a 1-row collect, not a data collect). The merge is
    then applied to the vocab with a higher-order fold — no Python ever
    touches a row. Ties break (count desc, pair asc) so learned rules are
    engine-reproducible.
    """
    # vocabulary with counts: the corpus-size-independent working set
    vocab = (df.select(F.explode(lower_tokens(text_col))
                       .alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("n"))
             # symbols: chars + trailing </w> marker
             .withColumn("syms", F.expr(
                 "concat(filter(split(w, ''), x -> x <> ''), array('</w>'))")))
    from glamr_omics_pipelines_spark.operators import _ckpt
    vocab = _ckpt.checkpoint(vocab)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        # guard the fully-merged single-symbol words: sequence(1, 0) counts
        # DOWN in Spark (inferred step -1), which would index out of bounds
        pairs = vocab.select("n", F.explode(F.expr(
            "CASE WHEN size(syms) >= 2 THEN "
            "transform(sequence(1, size(syms) - 1), "
            "i -> struct(syms[i - 1] AS a, syms[i] AS b)) "
            "ELSE cast(array() as array<struct<a: string, b: string>>) END"
        )).alias("p"))
        top = (pairs.groupBy("p.a", "p.b")
               .agg(F.sum("n").alias("cnt"))
               .orderBy(F.col("cnt").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(1).collect())
        if not top or top[0]["cnt"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # apply the merge with a fold: scan symbols left-to-right, joining
        # adjacent (a, b) occurrences (leftmost-first, non-overlapping —
        # the reference BPE behavior)
        # backslashes FIRST, then quotes: a symbol like C:\ would otherwise
        # escape its own closing quote in the spliced SQL literal
        a_l = a.replace("\\", "\\\\").replace("'", "\\'")
        b_l = b.replace("\\", "\\\\").replace("'", "\\'")
        prev = vocab
        vocab = _ckpt.checkpoint(vocab.withColumn("syms", F.expr(
            f"aggregate(syms, cast(array() as array<string>), "
            f"(acc, x) -> CASE WHEN size(acc) > 0 "
            f"AND try_element_at(acc, -1) = '{a_l}' AND x = '{b_l}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), "
            f"array(concat('{a_l}', x))) "
            f"ELSE concat(acc, array(x)) END)")))
        _ckpt.free(prev)  # replaced round's blocks, freed for real
    _ckpt.free(vocab)  # merges list is the result; the frame is internal
    return merges


def bigram_lm_score(df: DataFrame, id_col: str, text_col: str,
                    lam: float = 0.7, out: str = "lm2_score") -> DataFrame:
    """Per-doc mean INTERPOLATED bigram log-probability:
    P(b|a) = λ·c(a,b)/c(a) + (1−λ)·c(b)/T under the corpus's own counts —
    the next rung above unigram_lm_score on the cheap-perplexity ladder
    (catches word-salad docs whose unigrams are individually common).
    Swap the self-trained tables for reference-corpus counts to score
    against clean text.

    Same scale shape as the unigram scorer, one grain up: bigram counts
    partial-aggregate map-side; the count tables join back at
    bigram-position grain (auto-broadcast under the threshold, plain
    shuffled equi join at web-scale vocab — hash the gram there). When
    scoring the training corpus itself every observed bigram has c ≥ 1,
    so no zero probabilities arise; scoring FOREIGN text against these
    tables inherits the λ-interpolation's backoff and only an
    unseen-unigram b yields null (dropped from the mean, like CCNet's
    OOV handling). Docs with < 2 tokens produce no row.
    """
    toks = df.select(
        F.col(id_col),
        lower_tokens(text_col).alias("_arr"))
    # NOT persisted (r11 negative result): bigrams/uni re-reads looked like
    # duplicate pipeline work in the static plan, but an interleaved A/B of
    # registered persists on both was a wash (1.314 vs 1.275 min-of-5) —
    # AQE's runtime exchange reuse already serves the shared shuffles, and
    # a position-grain cache is corpus-sized at 100 TB. Leave lazy.
    bigrams = (toks.filter(F.size("_arr") >= 2)
               .select(id_col, F.explode(F.expr(
                   "transform(sequence(1, size(_arr) - 1), "
                   "i -> struct(_arr[i - 1] AS a, _arr[i] AS b))"))
                   .alias("bg"))
               .select(id_col, F.col("bg.a").alias("a"),
                       F.col("bg.b").alias("b")))
    uni = (toks.select(F.explode("_arr").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("_cw")))
    total = uni.agg(F.sum("_cw").alias("_t"))
    big = bigrams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("_cab"))
    scored = (bigrams
              .join(big, ["a", "b"], "left")
              .join(uni.select(F.col("w").alias("a"),
                               F.col("_cw").alias("_ca")), "a", "left")
              .join(uni.select(F.col("w").alias("b"),
                               F.col("_cw").alias("_cb")), "b", "left")
              .crossJoin(F.broadcast(total)))
    p = (F.lit(lam) * F.coalesce(F.col("_cab"), F.lit(0)) / F.col("_ca")
         + F.lit(1.0 - lam) * F.col("_cb") / F.col("_t"))
    logp = F.when(F.col("_cb").isNotNull() & (F.col("_ca") > 0), F.log(p))
    return (scored.withColumn("_lp", logp)
            .groupBy(id_col)
            .agg(F.avg("_lp").alias(out),
                 F.count(F.lit(1)).alias("n_bigrams")))


def tfidf_doc_pairs(df: DataFrame, id_col: str, text_col: str,
                    max_df_frac: float = 0.5,
                    threshold: float = 0.3) -> DataFrame:
    """All-pairs TF-IDF cosine similarity between documents via the
    inverted index — the sparse-vector twin of embedding_cosine_dups
    (finds topically-similar docs with no embedding model).

    The scale lever is DF pruning (Bayardo et al., WWW'07 all-pairs
    style): terms appearing in more than ``max_df_frac`` of docs are
    dropped BEFORE the index self-join, which (a) removes exactly the
    stop-words that contribute ~0 IDF weight and (b) bounds the per-term
    pair fan-out — without it one 'the' posting list generates |corpus|²
    candidate pairs. Weights are tf·ln(N/df), L2-normalized per doc
    (norm = one doc-grain partial agg broadcast back); the pair score is
    a term-grain equi join + partial-agg dot product of UNIT vectors, so
    no per-pair renormalization join is needed.
    """
    from glamr_omics_pipelines_spark.operators import _cache

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(lower_tokens(text_col)).alias("term"))
    # tf feeds three subplans (dfreq, w, and through w the norms agg) and
    # unit feeds both sides of the pair self-join; unpersisted, the
    # tokenize+explode+agg chain re-runs once per reference (AQE exchange
    # reuse does not cover the broadcast builds). Both frames are the
    # operator's natural materialization points (posting lists), registered
    # for release via _cache.release_caches().
    tf = _cache.register(
        toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("_tf")))
    n_docs = F.broadcast(
        df.agg(F.count_distinct(F.col(id_col)).alias("_n")))
    dfreq = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
             .crossJoin(n_docs)
             .filter(F.col("_df") <= F.col("_n") * max_df_frac)
             .select("term",
                     F.log(F.col("_n") / F.col("_df")).alias("_idf")))
    w = (tf.join(dfreq, "term")
         .select("_id", "term", (F.col("_tf") * F.col("_idf"))
                 .alias("_w")))
    norms = w.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_norm"))
    unit = _cache.register(
        w.join(norms, "_id")
        .filter(F.col("_norm") > 0)
        .select("term", F.col("_id"),
                (F.col("_w") / F.col("_norm")).alias("_u")))
    a = unit.select("term", F.col("_id").alias("id_a"),
                    F.col("_u").alias("_ua"))
    b = unit.select("term", F.col("_id").alias("id_b"),
                    F.col("_u").alias("_ub"))
    return (a.join(b, "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("_ua") * F.col("_ub")).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def class_tfidf_topk(df: DataFrame, class_col: str, text_col: str,
                     k: int = 5) -> DataFrame:
    """Class-based TF-IDF (the c-TF-IDF of BERTopic, Grootendorst 2022):
    treat each CLASS (cluster, source, topic) as one concatenated
    document and score W(t,c) = tf(t,c) · ln(1 + A/f(t)), A = average
    class token mass, f(t) = corpus frequency of t — the 'which terms
    characterize this cluster' step after any document clustering.
    Returns the top-``k`` terms per class (weight desc, term asc — total
    order, deterministic cut).

    Aggregation grain is (class, term) — partial-agged map-side, bounded
    by class-count × vocabulary, corpus-size independent; the corpus
    frequency and A attach by broadcast (term-grain / one-row). Top-k is
    a bounded rank window over the class-term grid, not the corpus.
    """
    toks = df.select(F.col(class_col).alias("cls"), F.explode(
        lower_tokens(text_col)).alias("t"))
    tfc = toks.groupBy("cls", "t").agg(F.count(F.lit(1)).alias("_tf"))
    fterm = tfc.groupBy("t").agg(F.sum("_tf").alias("_f"))
    avg_mass = F.broadcast(
        tfc.groupBy("cls").agg(F.sum("_tf").alias("_m"))
        .agg(F.avg("_m").alias("_a")))
    w = (tfc.join(fterm, "t").crossJoin(avg_mass)
         .select("cls", "t", (F.col("_tf")
                              * F.log(1 + F.col("_a") / F.col("_f")))
                 .alias("weight")))
    from pyspark.sql import Window
    rk = Window.partitionBy("cls").orderBy(F.col("weight").desc(),
                                           F.col("t").asc())
    return (w.withColumn("_rk", F.row_number().over(rk))
            .filter(F.col("_rk") <= k)
            .select(F.col("cls").alias(class_col),
                    F.col("t").alias("term"),
                    F.col("_rk").cast("bigint").alias("rank"),
                    F.round("weight", 4).alias("weight")))


def group_kl_divergence(df: DataFrame, class_col: str,
                        text_col: str) -> DataFrame:
    """Per-class KL divergence D(P_class ‖ P_corpus) over unigram
    distributions — the domain-drift detector for corpus mixing: which
    source's language deviates most from the blend it feeds. KL is finite
    by construction here (every class term exists in the corpus
    distribution, which is the support superset).

    (class, term)-grain counts partial-agg map-side; class totals and the
    corpus term distribution attach by broadcast; the divergence is one
    class-grain sum. Everything after the tokenize scan is bounded by
    classes × vocabulary.
    """
    toks = df.select(F.col(class_col).alias("cls"), F.explode(
        lower_tokens(text_col)).alias("t"))
    tfc = toks.groupBy("cls", "t").agg(F.count(F.lit(1)).alias("_n"))
    cls_tot = tfc.groupBy("cls").agg(F.sum("_n").alias("_ct"))
    corpus = tfc.groupBy("t").agg(F.sum("_n").alias("_cf"))
    total = F.broadcast(corpus.agg(F.sum("_cf").alias("_T")))
    j = (tfc.join(F.broadcast(cls_tot), "cls")
         .join(F.broadcast(corpus), "t").crossJoin(total))
    p = F.col("_n") / F.col("_ct")
    q = F.col("_cf") / F.col("_T")
    return (j.groupBy("cls")
            .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_bits_nat"),
                 F.count(F.lit(1)).alias("n_terms"))
            .select(F.col("cls").alias(class_col), "kl_bits_nat",
                    F.col("n_terms").cast("bigint").alias("n_terms")))


def js_divergence_pairs(df: DataFrame, class_col: str,
                        text_col: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between classes over unigram
    distributions — the symmetric, bounded (≤ ln 2) corpus-similarity
    matrix (KL's well-behaved sibling; the standard 'how different are
    these two sources' number in data-mixing work).

    Distributions are class-grain (vocab-bounded); the pair fan-out
    happens at CLASS-pair grain like bray_curtis — each class's
    distribution joins to its pairs, one-sided terms kept (they carry
    the p·ln2 mass an inner join would silently drop), and the JS sum is
    one (pair)-grain agg. Never touches the corpus after the tokenize
    scan.
    """
    toks = df.select(F.col(class_col).alias("cls"), F.explode(
        lower_tokens(text_col)).alias("t"))
    cnt = toks.groupBy("cls", "t").agg(F.count(F.lit(1)).alias("_n"))
    tot = cnt.groupBy("cls").agg(F.sum("_n").alias("_tot"))
    p = (cnt.join(F.broadcast(tot), "cls")
         .select("cls", "t", (F.col("_n") / F.col("_tot")).alias("_p")))
    classes = p.select("cls").distinct()
    pairs = (classes.select(F.col("cls").alias("ca"))
             .join(classes.select(F.col("cls").alias("cb")),
                   F.col("ca") < F.col("cb")))
    ua = (pairs.join(p.withColumnRenamed("cls", "ca"), "ca")
          .select("ca", "cb", "t", F.col("_p").alias("pa"),
                  F.lit(0.0).alias("pb")))
    ub = (pairs.join(p.withColumnRenamed("cls", "cb"), "cb")
          .select("ca", "cb", "t", F.lit(0.0).alias("pa"),
                  F.col("_p").alias("pb")))
    u = (ua.unionByName(ub)
         .groupBy("ca", "cb", "t")
         .agg(F.max("pa").alias("pa"), F.max("pb").alias("pb")))
    m = (F.col("pa") + F.col("pb")) / 2
    term = (F.when(F.col("pa") > 0,
                   F.col("pa") * F.log(F.col("pa") / m)).otherwise(0.0) / 2
            + F.when(F.col("pb") > 0,
                     F.col("pb") * F.log(F.col("pb") / m)).otherwise(0.0)
            / 2)
    return (u.groupBy("ca", "cb")
            .agg(F.round(F.sum(term), 6).alias("js_divergence")))


# bpe_encode's fold↔rank gate on the merge-list size: the row-local fold
# is exact at any size but costs O(merges × doc_len) per row; above this
# the per-word min-rank kernel runs instead
_BPE_FOLD_AUTO_MAX = 1024
_BPE_FOLD_CHUNK = 128
# rank-path per-partition word->tokens cache cap: ~1M entries is tens of MB
# (executor-safe); past it, new words still tokenize — they just stop
# memoizing, so a pathological unbounded-vocabulary partition degrades to
# per-word cost instead of OOM
_BPE_WORD_CACHE_MAX = 1_000_000


def _rank_unsafe_rule(merges: list[tuple[str, str]]) -> int | None:
    """Index of the first rule whose input symbol is PRODUCED by a later
    rule — the one situation where min-rank merging (the GPT-2 apply
    algorithm) can diverge from the sequential fold: the fold has already
    passed rule i when rule j>i manufactures fresh ``a_i``/``b_i``
    occurrences. Learned merge lists (learn_bpe_merges, every real
    tokenizer) can never trip this: rule j's output symbol first exists at
    step j, so no earlier rule can name it. Returns None when the list is
    provably fold-equivalent under rank merging (conservative: a hit means
    MAY diverge, not will)."""
    last_producer: dict[str, int] = {}
    for j, (a, b) in enumerate(merges):
        last_producer[a + b] = j
    for i, (a, b) in enumerate(merges):
        if last_producer.get(a, -1) > i or last_producer.get(b, -1) > i:
            return i
    return None


def _bpe_apply_word(word: str, ranks: dict[tuple[str, str], int],
                    cache: dict[str, list[str]]) -> list[str]:
    """Min-rank BPE merge of one word (symbols = chars + '</w>'): repeat
    'merge every occurrence of the lowest-rank adjacent pair, leftmost
    first' until no pair has a rule. Per-word cost O(L^2) worst case,
    independent of merge-list size — the property that makes 32k-merge
    vocabularies tractable where the O(M*L) fold is not."""
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word)
    syms.append("</w>")
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        prev = syms[0]
        for s in syms[1:]:
            r = ranks.get((prev, s))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (prev, s)
            prev = s
        if best_pair is None:
            break
        a, b = best_pair
        merged: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                merged.append(a + b)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        syms = merged
    if len(cache) < _BPE_WORD_CACHE_MAX:
        cache[word] = syms
    return syms


def bpe_encode(df: DataFrame, text_col: str,
               merges: list[tuple[str, str]],
               out: str = "bpe_tokens") -> DataFrame:
    """Apply trained BPE merge rules to a corpus — the INFERENCE side of
    :func:`learn_bpe_merges` (Sennrich et al. 2016), i.e. the operation a
    training-data pipeline actually runs at full corpus scale once the
    tokenizer is frozen. Adds ``out``: the document's BPE token array
    (word-internal merges, ``</w>`` end-of-word markers).

    Two physical forms, picked by merge-list size alone
    (``_BPE_FOLD_AUTO_MAX``):

    * fold (≤1024 merges) — row-local JVM expressions,
      ZERO shuffle, zero Python: the whole document is encoded once per
      symbol as ``\\x1f c \\x1f`` (words joined by a bare space so no merge
      pattern can cross a word boundary), and every merge rule is ONE plain
      string ``replace`` of ``\\x1fa\\x1f\\x1fb\\x1f`` → ``\\x1fab\\x1f`` —
      the per-symbol wrapping makes substring matches coincide exactly with
      the reference fold's whole-symbol comparisons, and the JVM's
      left-to-right non-overlapping replace scan IS the fold's
      leftmost-first merge order. The chain is built as a COLUMN TREE
      (functools-style reduce over ``F.replace`` — never a SQL string, so
      the ANTLR parser's ~400-call nesting limit is out of the picture),
      chunked into projections of ``_BPE_FOLD_CHUNK`` rules; each chunk
      boundary references its input twice (a no-op ``when`` guard) so
      CollapseProject cannot re-inline the chain into one
      analyzer/codegen-breaking expression. Measured bound: 2,048 merges
      pass under local[2] (tests), but per-row work is inherently
      O(merges × doc_len) — the fold is the ORACLE form, not the
      real-vocab form.
    * rank (above 1024 merges) — the real-tokenizer path:
      one Arrow-batched ``mapInPandas`` scan (the codec-kernel pattern;
      still zero shuffle), applying merges by minimum RANK per word
      (the GPT-2 apply algorithm) with a per-partition word→tokens cache,
      so per-doc cost is O(len) after the working vocabulary is warm and
      independent of merge-list size — a 32k-merge GPT-2-class vocabulary
      tokenizes in the scan stage (test pins sf0.01 × 32,000 merges).
      Rank merging equals the sequential fold whenever no rule consumes a
      symbol a LATER rule produces — true of every learned merge list by
      construction (hypothesis test: fold == rank on learn_bpe_merges
      output); a large list where they could diverge (a pathological
      hand-built one, see :func:`_rank_unsafe_rule`) is refused with a
      ValueError rather than silently switching semantics. Tokenization
      matches the fold form byte-for-byte: ASCII-\\s+ split, lowercase,
      0x1F stripped.

    0x1F bytes are stripped from input text up front so symbols can never
    contain the fold form's wrapper; NULL text stays NULL on both paths.
    """
    sep = "\x1f"
    src = F.col(text_col) if isinstance(text_col, str) else text_col
    if len(merges) > _BPE_FOLD_AUTO_MAX:
        bad = _rank_unsafe_rule(merges)
        if bad is not None:
            raise ValueError(
                f"bpe_encode: merge list is not rank-monotone (rule {bad} "
                f"consumes a symbol a later rule produces), so the "
                f"large-list rank path may diverge from the sequential "
                f"fold; above {_BPE_FOLD_AUTO_MAX} merges only "
                f"rank-monotone lists (every learned merge list) are "
                f"accepted")
        return _bpe_encode_rank(df, text_col, merges, out)

    clean = F.regexp_replace(src, "\x1f", "")
    word_enc = F.transform(
        lower_tokens(clean),
        lambda x: F.concat(F.regexp_replace(x, "(.)", f"{sep}$1{sep}"),
                           F.lit(f"{sep}</w>{sep}")))
    # collision-checked scratch name: an input column that happens to be
    # named _<out>_doc must survive the pipeline untouched (r9 review)
    tmp = f"_{out}_doc"
    while tmp in df.columns:
        tmp += "_"
    d = df.withColumn(tmp, F.concat_ws(" ", word_enc))
    col = F.col(tmp)
    pending = 0
    for a, b in merges:
        col = F.replace(col, F.lit(f"{sep}{a}{sep}{sep}{b}{sep}"),
                        F.lit(f"{sep}{a + b}{sep}"))
        pending += 1
        if pending >= _BPE_FOLD_CHUNK:
            # double-reference guard: length(tmp) >= 0 is always true, so
            # the when() is the identity — but it pins a SECOND reference
            # to the chunk input that the optimizer cannot fold away,
            # which blocks CollapseProject from re-inlining every chunk
            # into one optimizer-recursion-breaking expression tree.
            # (isNotNull would NOT work: concat_ws is non-nullable, so
            # NullPropagation folds the guard to TRUE, SimplifyConditionals
            # drops it, and the single remaining reference collapses —
            # measured as a StackOverflowError in CollapseProject output
            # at 2,048 merges.)
            d = d.withColumn(tmp, F.when(F.length(tmp) >= 0, col)
                             .otherwise(F.lit("")))
            col = F.col(tmp)
            pending = 0
    toks = F.filter(F.split(col, sep), lambda s: (s != "") & (s != " "))
    return (d.withColumn(
        out, F.when(src.isNull(), F.lit(None).cast("array<string>"))
        .otherwise(toks)).drop(tmp))


def _bpe_encode_rank(df: DataFrame, text_col: str,
                     merges: list[tuple[str, str]],
                     out: str = "bpe_tokens") -> DataFrame:
    """Arrow-batched min-rank BPE application (the above-gate form of
    :func:`bpe_encode`). One mapInPandas pass — zero shuffle; the merge
    table rides the task closure (~1 MB at 32k rules); a per-partition
    word cache makes warm-vocabulary cost O(doc_len) per document."""
    import re as _re

    from pyspark.sql import types as T

    if not isinstance(text_col, str):
        raise TypeError("bpe_encode's rank path needs a column NAME "
                        "(the Arrow kernel reads it from the batch); "
                        "select/alias the expression first")
    base = df.drop(out) if out in df.columns else df
    schema = T.StructType(list(base.schema.fields)
                          + [T.StructField(out, T.ArrayType(T.StringType()),
                                           True)])
    ranks: dict[tuple[str, str], int] = {}
    for i, pair in enumerate(merges):
        ranks.setdefault((pair[0], pair[1]), i)
    # Java regex \s is ASCII-only — mirror it exactly (Python \s would
    # additionally split on unicode spaces and diverge from the fold form)
    ws = _re.compile("[ \t\n\x0b\x0c\r]+")
    name = text_col

    def kernel(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            col = []
            for text in pdf[name]:
                if text is None:
                    col.append(None)
                    continue
                toks: list[str] = []
                for w in ws.split(text.replace("\x1f", "").lower()):
                    if w:
                        toks.extend(_bpe_apply_word(w, ranks, cache))
                col.append(toks)
            res = pdf.copy()
            res[out] = col
            yield res

    return base.mapInPandas(kernel, schema=schema)


def hashed_linear_score(df: DataFrame, text_col: str,
                        weights: list[float], bias: float = 0.0,
                        salt: str = "feat",
                        out: str = "score") -> DataFrame:
    """Hashed bag-of-words linear classifier INFERENCE at scan stage —
    the fastText-style quality/domain filter shape (CCNet, LLaMA data
    pipelines): each lowercased token hashes into one of
    ``len(weights)`` buckets (md5, engine-reproducible) and the document
    score is ``sigmoid(bias + Σ weights[bucket(t)])`` over its tokens.

    The model rides the plan as an expression-tree literal (the weight
    array), so scoring 100 TB is a pure projection: tokenize → per-token
    array lookup inside one fold → sigmoid. Zero shuffle, zero Python,
    zero model broadcast round-trip. Train wherever you like (the hashed
    representation makes any trainer's weights portable); at typical
    2^18–2^21 buckets the literal array is single-digit MB of plan — the
    same budget as the IVF/PQ codebook literals.

    Beyond-reference training-data operator (SURVEY §8); nearest
    reference precedent is the rule-based quality banding (checkM §2.2
    P8) upgraded to learned-model inference.
    """
    if not weights:
        raise ValueError("hashed_linear_score: empty weights")
    n = len(weights)
    # collision-checked scratch names: input columns named _w/_z must
    # survive untouched (the bpe_encode scratch-column convention)
    wtmp, ztmp = "_w", "_z"
    while wtmp in df.columns:
        wtmp += "_"
    while ztmp in df.columns:
        ztmp += "_"
    warr = F.array(*[F.lit(float(w)) for w in weights])
    bucket = (f"CAST(conv(substring(md5(concat('{salt}:', t)), 1, 8), 16, 10)"
              f" AS BIGINT) % {n}")
    z = F.expr(
        f"aggregate(transform(filter(split(lower({text_col}), '\\\\s+'),"
        f" t -> t != ''), t -> element_at({wtmp}, CAST(({bucket}) AS INT)"
        f" + 1)), CAST({float(bias)!r} AS DOUBLE), (a, v) -> a + v)")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(ztmp)))
    return (df.withColumn(wtmp, warr).withColumn(ztmp, z)
            .withColumn(out, score).drop(wtmp, ztmp))
