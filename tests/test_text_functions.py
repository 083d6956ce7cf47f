"""Text-analysis + bio scalar function tests."""

import math

from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.functions import bio
from glamr_omics_pipelines_spark.operators import text


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world  foo")], ["id", "t"])
    out = text.bpe_ish_token_count(text.token_count(df, "t"), "t").collect()[0]
    assert out["n_tokens"] == 3
    assert out["n_bpe_tokens"] == 3


def test_bpe_ish_counts_mixed(spark):
    df = spark.createDataFrame([(1, "ab12 cd, ef!")], ["id", "t"])
    out = text.bpe_ish_token_count(df, "t").collect()[0]
    # ab | 12 | cd | , | ef | !
    assert out["n_bpe_tokens"] == 6


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "el que la y de"),
         (3, "zzz qqq www")], ["id", "t"])
    out = {r["id"]: r["pred_lang"] for r in
           text.lang_id(df, "t").collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "the cat!")], ["id", "t"])
    out = text.quality_features(df, "t").collect()[0]
    assert out["n_tokens"] == 2
    assert math.isclose(out["punct_ratio"], 1 / 8)
    assert math.isclose(out["stopword_ratio"], 0.5)


def test_doc_fingerprint_deterministic(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "abc"), (3, "abd")], ["id", "t"])
    got = {r["id"]: r["fingerprint"] for r in
           text.doc_fingerprint(df, "t").collect()}
    assert got[1] == got[2] != got[3]
    # h('abc') = (97*31 + 98)*31 + 99 mod p
    assert got[1] == ((97 * 31 + 98) * 31 + 99) % 1000000007


def test_gc_content_and_revcomp(spark):
    df = spark.createDataFrame([(1, "ACGT"), (2, "GGCC")], ["id", "seq"])
    out = df.select("id", bio.gc_content("seq").alias("gc"),
                    bio.reverse_complement("seq").alias("rc")).collect()
    got = {r["id"]: (r["gc"], r["rc"]) for r in out}
    assert math.isclose(got[1][0], 0.5) and got[1][1] == "ACGT"
    assert math.isclose(got[2][0], 1.0) and got[2][1] == "GGCC"


def test_quality_filter_drops_bad_reads(spark):
    rows = [(1, "ACGT" * 20),            # good
            (2, "AC"),                   # too short
            (3, "N" * 80),               # too many Ns
            (4, "A" * 80)]               # homopolymer
    df = spark.createDataFrame(rows, ["id", "seq"])
    out = bio.quality_filter(df, "seq", min_len=50, max_n=5,
                             max_homopolymer=20)
    assert {r["id"] for r in out.collect()} == {1}


def test_mean_qual(spark):
    df = spark.createDataFrame([(1, "II!!")], ["id", "qual"])  # 40,40,0,0
    out = df.select(bio.mean_qual("qual").alias("mq")).collect()[0]
    assert math.isclose(out["mq"], 20.0)


def test_seqkit_stats(spark):
    df = spark.createDataFrame([("s", l) for l in [10, 20, 30, 40]],
                               ["sample", "len"])
    out = bio.seqkit_stats(df, ["sample"], "len").collect()[0]
    assert out["num_seqs"] == 4 and out["min_len"] == 10
    assert math.isclose(out["q2"], 25.0)


def test_dedup_pairs_exact_pair_content(spark):
    """P6 pair dedup (RemovePolyPairs.pl:58-80): one survivor per distinct
    (fwd_seq, rev_seq) pair; different pairings of the same sequences are
    NOT duplicates."""
    from glamr_omics_pipelines_spark.functions import bio
    rows = [("ACGT", "TTTT", 1), ("ACGT", "TTTT", 2),   # exact dup pair
            ("ACGT", "GGGG", 3),                        # same fwd, new rev
            ("TTTT", "ACGT", 4)]                        # swapped != dup
    df = spark.createDataFrame(rows, "fwd_seq string, rev_seq string, rid long")
    out = bio.dedup_pairs(df)
    assert out.count() == 3
    pairs = {(r.fwd_seq, r.rev_seq) for r in out.collect()}
    assert pairs == {("ACGT", "TTTT"), ("ACGT", "GGGG"), ("TTTT", "ACGT")}


def test_repetition_metrics_hand_computed(spark):
    """Gopher repetition gates on hand-built docs."""
    from glamr_omics_pipelines_spark.operators import text as T
    rows = [
        (1, "a b a b a b"),        # words: 6, distinct 2; bigrams 5:
                                   # [a b, b a, a b, b a, a b] distinct 2,
                                   # top 'a b' = 3/5
        (2, "x y z w"),            # all unique
        (3, "solo"),               # 1 word -> bigram metrics 0
        (4, ""),                   # empty -> all 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in T.repetition_metrics(df, "text").collect()}
    assert abs(out[1]["dup_word_frac"] - (1 - 2 / 6)) < 1e-9
    assert abs(out[1]["dup_bigram_frac"] - (1 - 2 / 5)) < 1e-9
    assert abs(out[1]["top_bigram_frac"] - 3 / 5) < 1e-9
    assert out[2]["dup_word_frac"] == 0.0
    # all-unique bigrams: the most common one still covers 1/nb
    assert abs(out[2]["top_bigram_frac"] - 1 / 3) < 1e-9
    assert out[3]["dup_bigram_frac"] == 0.0
    assert out[4]["dup_word_frac"] == 0.0


def test_scrub_pii_redacts_and_counts(spark):
    from glamr_omics_pipelines_spark.operators import text as T
    rows = [(1, "mail me at jo.doe+x@corp.io or see https://a.b/c?d=1 "
                "or ring +1 (555) 123-4567 now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = T.scrub_pii(df, "text").collect()[0]
    assert r["n_emails"] == 1 and r["n_urls"] == 1 and r["n_phones"] == 1
    assert "<EMAIL>" in r["clean_text"] and "<URL>" in r["clean_text"]
    assert "<PHONE>" in r["clean_text"]
    assert "jo.doe" not in r["clean_text"] and "555" not in r["clean_text"]


def test_unigram_lm_score_hand_computed(spark):
    """corpus = {a: 3, b: 1}; doc1='a a a' -> ln(3/4); doc2='b' -> ln(1/4)."""
    import math
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([(1, "a a a"), (2, "b")], ["doc_id", "text"])
    got = {r["doc_id"]: (r["lm_score"], r["n_tokens"])
           for r in T.unigram_lm_score(df, "doc_id", "text").collect()}
    assert abs(got[1][0] - math.log(3 / 4)) < 1e-9 and got[1][1] == 3
    assert abs(got[2][0] - math.log(1 / 4)) < 1e-9 and got[2][1] == 1


def test_ngram_contamination_detects_cross_split_copy(spark):
    from glamr_omics_pipelines_spark.operators import text as T
    rows = [
        (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "train"),
        (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "test"),    # full copy: 2 shared 8-grams
        (3, "x1 x2 x3 x4 x5 x6 x7 x8", "test"),        # clean
        (4, "short doc", "test"),                      # < 8 words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "split"])
    got = {r["doc_id"]: r["n_shared"]
           for r in T.ngram_contamination(df, "doc_id", "text", "split").collect()}
    assert got == {2: 2}


def test_scrub_pii_counts_reconcile_with_placeholders(spark):
    """Digit runs inside a URL are ONE <URL> redaction, not also a phone
    (counts run against the progressively-cleaned text)."""
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([(1, "see https://x.io/123-456-7890 now")],
                               ["doc_id", "text"])
    r = T.scrub_pii(df, "text").collect()[0]
    assert (r["n_urls"], r["n_phones"], r["n_emails"]) == (1, 0, 0)
    assert r["clean_text"] == "see <URL> now"


def test_pmi_collocations_hand_computed(spark):
    from glamr_omics_pipelines_spark.operators import text as T
    import math
    # one doc, bigrams: (new,york) x3, (york,new) x2; N=5 bigram slots.
    # first-token counts: new=3, york=2; second-token: york=3, new=2.
    df = spark.createDataFrame([("new york new york new york",)], ["text"])
    out = T.pmi_collocations(df, "text", min_count=2, top_k=10).collect()
    got = {(r["a"], r["b"]): (r["c_ab"], r["pmi"]) for r in out}
    assert got[("new", "york")][0] == 3
    assert got[("york", "new")][0] == 2
    assert math.isclose(got[("new", "york")][1],
                        round(math.log(5 * 3 / (3 * 3)), 6), abs_tol=1e-6)
    assert math.isclose(got[("york", "new")][1],
                        round(math.log(5 * 2 / (2 * 2)), 6), abs_tol=1e-6)


def test_pmi_collocations_min_count_gate(spark):
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([("a b a b", ), ("c d",)], ["text"])
    out = T.pmi_collocations(df, "text", min_count=2, top_k=10).collect()
    assert {(r["a"], r["b"]) for r in out} == {("a", "b")}  # (c,d) count 1 gated


def test_bm25_hand_computed(spark):
    """Single-term query over a 3-doc corpus: BM25 reduces to
    idf·tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) — hand-checked, and the
    shorter doc with equal tf must outrank the longer one."""
    import math
    from glamr_omics_pipelines_spark.operators import text as T
    rows = [(1, "cat dog"), (2, "cat cat mouse fish"), (3, "bird fish")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = T.bm25_topk(df, "doc_id", "text", [("q", "cat")],
                      k1=1.2, b=0.75, top_k=10).collect()
    got = {r["doc_id"]: (r["bm25"], r["rank"]) for r in out}
    assert set(got) == {1, 2}  # doc 3 shares no term
    n, avgdl = 3, (2 + 4 + 2) / 3
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))

    def score(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    assert math.isclose(got[1][0], score(1, 2), rel_tol=1e-9)
    assert math.isclose(got[2][0], score(2, 4), rel_tol=1e-9)
    # tf=2 in the longer doc still wins here; rank order checked explicitly
    assert got[2][1] == 1 and got[1][1] == 2


def test_bm25_multi_term_sum_and_topk_cut(spark):
    """Multi-term query sums per-term contributions; top_k bounds rows per
    query; a query whose terms are absent returns no rows (never 0-score
    rows for the whole corpus)."""
    from glamr_omics_pipelines_spark.operators import text as T
    rows = [(i, "alpha beta " + ("gamma " * (i % 3))) for i in range(10)]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows],
                               ["doc_id", "text"])
    out = T.bm25_topk(df, "doc_id", "text",
                      [("q1", "alpha gamma"), ("q2", "zzz")], top_k=4)
    rows_out = out.collect()
    by_q = {}
    for r in rows_out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert "q2" not in by_q  # absent terms → no rows
    assert len(by_q["q1"]) == 4  # top_k cut
    assert [r["rank"] for r in sorted(by_q["q1"], key=lambda r: r["rank"])] \
        == [1, 2, 3, 4]


def test_bm25_guards(spark):
    from glamr_omics_pipelines_spark.operators import text as T
    import pytest as _pytest
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        T.bm25_topk(df, "doc_id", "text", [])
    with _pytest.raises(ValueError):
        T.bm25_topk(df, "doc_id", "text", [("q", "  ")])
    with _pytest.raises(ValueError):
        T.bm25_topk(df, "doc_id", "text", [("q", "a")], top_k=0)


def test_line_quality_filter_rules(spark):
    """Each RefinedWeb-style line rule fires independently; survivors
    rejoin in order; an all-boilerplate doc returns '' (never dropped)."""
    from glamr_omics_pipelines_spark.operators import text as T
    doc = "\n".join([
        "NAVIGATION HOME ABOUT",          # shouty -> drop
        "This line is a normal sentence body",  # keep
        "ok.",                            # short but terminated -> keep
        "17 123 456",                     # digit counter -> drop
        "stray fragment",                 # <3 words, no terminal -> drop
        "We use cookie banners here",     # marker -> drop
        "Mixed Case Heading Line",        # keep (4 words, upper ratio low)
    ])
    df = spark.createDataFrame([(1, doc), (2, "CLICK HERE\n99 000")],
                               ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           T.line_quality_filter(df, "text").collect()}
    assert out[1]["clean_text"] == (
        "This line is a normal sentence body\nok.\nMixed Case Heading Line")
    assert (out[1]["n_lines"], out[1]["n_removed_lines"]) == (7, 4)
    assert out[2]["clean_text"] == ""
    assert (out[2]["n_lines"], out[2]["n_removed_lines"]) == (2, 2)


def test_line_quality_filter_zero_shuffle(spark):
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([(1, "a\nb")], ["doc_id", "text"])
    out = T.line_quality_filter(df, "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


WP_VOCAB = ["a", "the", "spark", "sp", "##ark", "s", "##park", "so", "##rt",
            "##ort", "table", "scan", "sc", "##an", "custom", "##er",
            "fil", "##ter", "da", "##ta"]


def _wordpiece_ref(text, vocab, max_steps=12, unk="[UNK]"):
    """Plain-Python greedy longest-match-first WordPiece (the BERT rule):
    no match at a step, or a remainder left after max_steps pieces, turns
    the whole word into unk."""
    if text is None:
        return None
    out = []
    for word in text.lower().split():
        rest, toks = word, []
        while rest and len(toks) < max_steps:
            pre = "##" if toks else ""
            ln = next((n for n in range(len(rest), 0, -1)
                       if pre + rest[:n] in vocab), 0)
            if not ln:
                break
            toks.append(pre + rest[:ln])
            rest = rest[ln:]
        out.extend([unk] if rest else toks)
    return out


def test_wordpiece_hand_cases(spark):
    """Greedy longest-match: 'scan' whole beats sc+##an; 'sort' takes
    so+##rt (so > s at step 1); no-match word → whole-word [UNK]; NULL
    stays NULL; the reference agrees."""
    from glamr_omics_pipelines_spark.operators import text as T
    rows = [(1, "Spark table scan"), (2, "sort the data"),
            (3, "fast stream"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {1: ["spark", "table", "scan"],
            2: ["so", "##rt", "the", "da", "##ta"],
            3: ["[UNK]", "[UNK]"], 4: None}
    got = {r["doc_id"]: r["wp_tokens"] for r in
           T.wordpiece_encode(df, "text", WP_VOCAB).collect()}
    assert got == want
    assert {i: _wordpiece_ref(t, set(WP_VOCAB)) for i, t in rows} == want


def test_wordpiece_step_cap_unk(spark):
    """A word needing more than max_steps pieces becomes [UNK] (the
    step-capped-greedy contract)."""
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([(1, "aaaa aa")], "doc_id long, text string")
    vocab = ["a", "##a"]
    got = T.wordpiece_encode(df, "text", vocab,
                             max_steps=3).collect()[0]["wp_tokens"]
    assert got == ["[UNK]", "a", "##a"]
    assert _wordpiece_ref("aaaa aa", set(vocab), max_steps=3) == got


def test_wordpiece_matches_reference_random(spark):
    """Property: the engine equals the plain-Python greedy on a randomized
    vocab + corpus."""
    import random
    from glamr_omics_pipelines_spark.operators import text as T
    rng = random.Random(17)
    alphabet = "abcd"
    pieces = {"".join(rng.choice(alphabet) for _ in range(rng.randint(1, 3)))
              for _ in range(25)}
    vocab = sorted(pieces) + sorted("##" + p for p in pieces
                                    if rng.random() < 0.7)
    docs = [(i, " ".join("".join(rng.choice(alphabet)
                                 for _ in range(rng.randint(1, 8)))
                         for _ in range(6))) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for steps in (4, 12):  # the cap binds at 4, is inert at 12
        got = {r["doc_id"]: r["wp_tokens"] for r in T.wordpiece_encode(
            df, "text", vocab, max_steps=steps).collect()}
        assert got == {i: _wordpiece_ref(t, set(vocab), max_steps=steps)
                       for i, t in docs}, steps


def test_wordpiece_guards(spark):
    import pytest as _pytest
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        T.wordpiece_encode(df, "text", [])
    with _pytest.raises(ValueError):
        T.wordpiece_encode(df, "text", ["a", "a"])
    with _pytest.raises(ValueError):
        T.wordpiece_encode(df, "text", ["##"])
    with _pytest.raises(ValueError):
        T.wordpiece_encode(df, "text", ["a"], max_steps=0)


def test_wordpiece_single_scan_zero_shuffle(spark):
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = T.wordpiece_encode(df, "text", ["a", "b"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and plan.count("MapInPandas") == 1


def test_wordpiece_accepts_column_arg(spark):
    from pyspark.sql import functions as F
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([(1, "x"), (2, "a b")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["wp_tokens"] for r in T.wordpiece_encode(
        df, F.concat(F.col("text"), F.lit(" B")), ["a", "b"]).collect()}
    assert got == {1: ["[UNK]", "b"], 2: ["a", "b", "b"]}


def test_wordpiece_pandas_scratch_and_replace_semantics(spark):
    """A caller column named _wp_words survives; an existing out column
    is REPLACED (withColumn semantics)."""
    from glamr_omics_pipelines_spark.operators import text as T
    df = spark.createDataFrame([(1, "a b", "keep", "old")],
                               ["doc_id", "text", "_wp_words", "wp_tokens"])
    r = T.wordpiece_encode(df, "text", ["a", "b"]).collect()[0]
    assert r["_wp_words"] == "keep" and r["wp_tokens"] == ["a", "b"]


def test_wordpiece_real_vocab_scale(spark):
    """wordpiece_encode tokenizes the sf0.01 corpus under a 30,000-piece
    vocabulary (BERT-class size); warm per-doc cost is vocab-size
    independent (per-partition word cache)."""
    import random
    import time
    from glamr_omics_pipelines_spark.operators import text as T
    rng = random.Random(3)
    letters = "abcdefghijklmnopqrstuvwxyz"
    pieces: set = set()
    while len(pieces) < 31000:
        pieces.add("".join(rng.choice(letters)
                           for _ in range(rng.randint(3, 10))))
    ordered = sorted(pieces)
    vocab = (list(letters) + ["##" + c for c in letters]
             + ordered[:23000]
             + ["##" + p for p in ordered[23000:31000]])
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    t0 = time.time()
    out = T.wordpiece_encode(df, "text", vocab, max_steps=32)
    n = out.selectExpr("sum(size(wp_tokens)) s").collect()[0]["s"]
    dt = time.time() - t0
    assert len(vocab) >= 30000 and n > 0
    # generous bound: the 500-doc corpus must tokenize in seconds, not
    # minutes (the old bpe failure mode was a hard crash, not slowness)
    assert dt < 120, dt
