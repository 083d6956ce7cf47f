"""Deduplication operators for large-scale corpus curation.

Reference precedent: the pipeline runs bbtools clumpify/dedupe for exact read
dedup (Snakefile:429-473, 1 TB memory envelope!) and RemovePolyPairs.pl does
exact pair dedup via in-memory hash (code/RemovePolyPairs.pl:32-80); sourmash
computes MinHash sketches for genome similarity (Snakefile:2529). Here those
become distributed, shuffle-bounded Spark plans — the 1 TB single-node hash
table becomes a hash-partitioned groupBy.

Operators:
  - exact_dedup: hash-groupBy canonical-row selection. One shuffle on the
    content hash; at 100 TB use xxhash64(content) as the shuffle key so the
    exchange carries 8-byte keys, not document bodies.
  - minhash_lsh_candidates / minhash_dedup: shingle → k minhashes → band
    buckets → bucket self-join. Shuffle cost O(docs × bands), join blowup
    bounded per bucket; skewed (huge) buckets are AQE-split.
  - simhash_candidates: 64-bit simhash over token hashes; near-dup = equal
    band slices (Hamming-adjacent buckets).
  - ngram_jaccard_pairs: exact n-gram Jaccard via shingle inverted index —
    the verification step after LSH candidate generation.

All hashing uses xxhash64 (JVM builtin, whole-stage-codegen friendly); no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.operators import _cache, _ckpt


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str,
                keep: str = "min") -> DataFrame:
    """Exact dedup: one canonical row per distinct content (SURVEY ext.).

    Keeps the row with the min (or max) id per content group. Returns the
    full deduped frame. Shuffle key is (xxhash64, md5) of the content — 40
    bytes/row instead of whole documents. Two independent hashes because a
    single 64-bit key silently merges distinct docs at corpus scale
    (~3 expected collisions at 10^10 docs); the combined 192-bit space makes
    a false merge cosmologically unlikely while keeping the exchange narrow.
    """
    # NULL-safe content encoding: xxhash64 and concat_ws both SKIP null
    # inputs, so ('a', NULL) and (NULL, 'a') would otherwise share both hash
    # keys and merge distinct rows. Mark each column as 'v:<value>' or 'null'
    # so null position is part of the hashed content.
    marked = [F.coalesce(F.concat(F.lit("v:"), F.col(c).cast("string")),
                         F.lit("null")) for c in content_cols]
    h64 = F.xxhash64(*marked)
    h128 = F.md5(F.concat_ws(chr(0), *marked))
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    hashed = df.withColumn("_h", h64).withColumn("_h2", h128)
    winners = hashed.groupBy("_h", "_h2").agg(agg.alias(id_col))
    # semi-join on (hash, id), NOT id alone: an id can be the winner of a
    # DIFFERENT content group (id spaces that interleave content groups,
    # e.g. planted-copy offsets colliding with real ids) — matching on id
    # only would keep that row for the wrong content.
    return (hashed.join(winners, ["_h", "_h2", id_col], "left_semi")
            .drop("_h", "_h2"))


def dup_groups(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Duplicate-group summary: canonical id + multiplicity per content value."""
    return (df.groupBy(*content_cols)
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def char_shingles(df: DataFrame, text_col: str, n: int = 5,
                  out: str = "shingle") -> DataFrame:
    """Explode a text column into its distinct character n-grams.

    Pure builtin expressions (sequence + transform + explode) — stays in
    whole-stage codegen, no UDF.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))
    grams = F.array_distinct(F.transform(idx, lambda i: F.col(text_col).substr(i, F.lit(n))))
    return df.withColumn(out, F.explode(grams))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 32, shingle_n: int = 5) -> DataFrame:
    """Per-doc MinHash signature: for k seeded xxhash64 functions, the min
    hash over the doc's shingle set. Output: (id, sig: array<bigint>[k]).

    Implemented as ONE aggregation over the exploded shingles with k min()
    columns — partial aggregation collapses each doc to one row per partition
    BEFORE the exchange, so the shuffle is O(docs × k) longs, independent of
    document length, and the k hashes run inside whole-stage codegen.
    (A row-local ``aggregate``-fold variant with zero shuffle was measured
    1.5x SLOWER: higher-order-function lambdas evaluate interpreted, and the
    32 hashes per shingle dominate — the narrow partial-agg shuffle is
    cheaper than leaving codegen. Values are identical either way; the
    DuckDB jaccard oracle checks the pipeline end-to-end.)
    """
    sh = char_shingles(df.select(id_col, text_col), text_col, shingle_n)
    mins = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(id_col, F.array(*[f"_m{i}" for i in range(num_hashes)])
                      .alias("minhash_sig"))


def minhash_bands(df: DataFrame, id_col: str, text_col: str,
                  num_hashes: int = 32, bands: int = 8,
                  shingle_n: int = 5) -> DataFrame:
    """Per-doc (id, band, bucket) MinHash band-bucket rows — the
    PERSISTABLE LSH index state: write the historical corpus's bands once
    (partitioned/bucketed by (band, bucket) at scale), then each new
    ingest batch hashes ONLY its own docs and probes the stored bands via
    :func:`minhash_lsh_candidates_vs` — the near-dup twin of the
    :mod:`sketches` bloom gate's incremental story. Band hash = xxhash64
    of the signature slice, seeded by the band index."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(F.concat_ws(
            ",", F.transform(F.slice("minhash_sig", b * rows_per_band + 1, rows_per_band),
                             lambda x: x.cast("string"))), b))
    # the band array is the GENERATOR argument — evaluated once per input
    # row (unlike sibling columns next to a generator, which re-evaluate
    # per output element: the kmeans_lloyd assignment finding); inline is
    # the fast form (interleaved A/B at sf0.1: a pre-projection is ~4%
    # slower — it adds an array serialization between Projects)
    return sig.select(id_col, F.posexplode(band_arr).alias("band", "bucket"))


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 32, bands: int = 8,
                           shingle_n: int = 5,
                           dedup_pairs: bool = True) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band of their MinHash signature.

    banding: k hashes split into ``bands`` rows-per-band groups; band hash =
    xxhash64 of the slice. Self-join on (band_idx, band_hash) — the classic
    shingle→minhash→band→bucket-join plan, one shuffle each side keyed by an
    8-byte bucket hash. Returns (id_a, id_b) with id_a < id_b.
    """
    # both self-join sides read this; NO persist — the sides are identical
    # subplans above the signature agg's exchange, so Catalyst's
    # ReuseExchange serves one shuffle to both (A/B-measured equal-or-
    # faster than an explicit cache, which adds a materialization barrier)
    buckets = minhash_bands(df, id_col, text_col, num_hashes, bands,
                            shingle_n)
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (a.join(b, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
    # dedup_pairs=False skips the distinct's shuffle — sound whenever the
    # consumer is a semi-join (e.g. ngram_jaccard_pairs verification), which
    # ignores multiplicity; a pair repeats at most once per matching band.
    return pairs.distinct() if dedup_pairs else pairs


def minhash_lsh_candidates_vs(new_bands: DataFrame, hist_bands: DataFrame,
                              id_col: str, hist_id: str = "id_hist",
                              new_id: str = "id_new",
                              dedup_pairs: bool = True) -> DataFrame:
    """Cross-corpus LSH candidates: a NEW ingest batch's band rows probed
    against a PERSISTED historical band index (both from
    :func:`minhash_bands`) — incremental near-dup detection without
    re-hashing history. Returns (``hist_id``, ``new_id``) pairs sharing
    ≥1 band bucket; verify with :func:`ngram_jaccard_pairs` over the
    union frame (candidate-restricted, so verification cost is bounded
    by the candidate set, not the corpora).

    Plan shape: one equi join on (band, bucket) — at scale the stored
    index is bucketed by these keys so only the (small) new side
    shuffles. The composition gate→candidates→verify with
    :func:`sketches.bloom_novel` in front skips both stages for
    guaranteed-novel keys."""
    a = hist_bands.select(F.col(id_col).alias(hist_id), "band", "bucket")
    b = new_bands.select(F.col(id_col).alias(new_id), "band", "bucket")
    pairs = a.join(b, ["band", "bucket"]).select(hist_id, new_id)
    return pairs.distinct() if dedup_pairs else pairs


def _shingle_overlap(df: DataFrame, id_col: str, text_col: str,
                     shingle_n: int = 5,
                     candidates: DataFrame | None = None) -> DataFrame:
    """Shared inverted-index core of the exact set-similarity verifiers:
    (id_a, id_b, _inter, _sa, _sb) for every doc pair sharing ≥1 shingle
    (optionally candidate-restricted). Jaccard and containment are row-local
    arithmetic on top."""
    base = df.select(id_col, text_col)
    if candidates is not None:
        # CANDIDATE-VERIFY FORM (the LSH verify stage): fetch each candidate
        # doc's distinct-shingle SET once, join the (small) pair list to the
        # two sets, and intersect row-locally — the standard verify shape.
        # Value-identical to the inverted-index form below (collect_set is
        # the distinct shingle set; array_intersect size = shared-shingle
        # count; the `_inter >= 1` filter reproduces the inner self-join's
        # "pairs sharing >= 1 shingle" grain) but with NO shingle-grain
        # shuffle: the only exchange is the per-doc set aggregation over
        # candidate docs. Cuts the verify from ~23 AQE stage rounds to ~8
        # at sf0.1 — fixed scheduling overhead that dominates small-SF wall
        # and serialization points that still matter at 100 TB, where the
        # inverted-index form shuffles O(total shingles) while this form
        # shuffles O(candidate-doc shingles) only.
        #
        # the candidate plan (usually a full LSH pipeline) feeds two subplans
        # (doc-id restriction + the pair frame itself); materialize it ONCE
        # and TRUNCATE the plan (eager localCheckpoint, r12): a persist()
        # kept the full LSH lineage inside every downstream subtree (the two
        # set joins embed it 5x), and job profiling showed ~0.9 s of
        # driver-side planning plus ~14 AQE stage-materialization rounds
        # spent on those trees while the verify compute itself was
        # milliseconds (guide §3.3: enormous plans make planning the
        # bottleneck; materializing an intermediate truncates it). The
        # repartition hash-spreads the pair list on its join keys — the
        # distinct's aggregate reuses that exchange (no extra shuffle) — so
        # the per-pair set-intersect stage below runs #cores-wide instead of
        # on the single AQE-coalesced post-shuffle partition (guide §2.5;
        # isolated: 1.69 s -> 0.35 s). Interleaved A/B at sf0.1 on the full
        # minhash_dedup verify: 3.53 -> 1.51 s min-of-7, values identical.
        # At 100 TB the checkpoint is the same materialization the persist
        # paid, and partition count = total cores right-sizes a stage whose
        # per-row cost is O(|set_a|+|set_b|), not bytes.
        # The distinct is required for correctness, not just size: LSH
        # candidate frames built with dedup_pairs=False repeat a pair once
        # per matching band, and unlike the old semi-join consumer the pair
        # join below is multiplicity-sensitive. (RemoveRedundantAggregates
        # collapses it when the caller already deduped.)
        n_out = df.sparkSession.sparkContext.defaultParallelism
        candidates = _ckpt.checkpoint(
            candidates.select("id_a", "id_b")
            .repartition(n_out, "id_a", "id_b").distinct())
        # verification only needs the docs the LSH stage surfaced: restrict
        # BEFORE exploding shingles, or the "verify" stage silently re-runs
        # the full corpus tokenize. Candidate ids are LSH output — tiny;
        # broadcast. No distinct before the broadcast: the semi-join's hash
        # relation dedups keys on build, and skipping it saves an exchange
        # round (ids repeat at most 2x pairs).
        cand_ids = (candidates.select(F.col("id_a").alias(id_col))
                    .unionByName(candidates.select(F.col("id_b").alias(id_col))))
        restricted = base.join(F.broadcast(cand_ids), id_col, "left_semi")
        # per-doc distinct shingle set: ObjectHashAggregate, one exchange at
        # candidate-doc grain. At 100 TB a doc's shingle set is bounded by
        # doc length (the same bound the inverted-index rows carried).
        # Checkpoint, not persist, for the same plan-truncation reason as
        # the candidates above: each of the two pair joins re-embeds this
        # subtree (and the candidate tree under it) in the final plan.
        sets = _ckpt.checkpoint(
            char_shingles(restricted, text_col, shingle_n)
            .groupBy(id_col).agg(F.collect_set("shingle").alias("_shset")))
        out = (candidates
               .join(sets.select(F.col(id_col).alias("id_a"),
                                 F.col("_shset").alias("_seta")), "id_a")
               .join(sets.select(F.col(id_col).alias("id_b"),
                                 F.col("_shset").alias("_setb")), "id_b")
               .select("id_a", "id_b",
                       F.array_size(F.array_intersect("_seta", "_setb"))
                       .alias("_inter"),
                       F.array_size("_seta").alias("_sa"),
                       F.array_size("_setb").alias("_sb")))
        return out.filter(F.col("_inter") >= 1)
    # DISCOVERY FORM (no candidate list): inverted-index self-join — the
    # only way to FIND overlapping pairs without a pre-bucketed stage; use
    # on bounded inputs or behind an LSH.
    sh = char_shingles(base, text_col, shingle_n) \
        .select(id_col, "shingle").distinct()
    # the shingle table feeds THREE subplans (a-side, b-side, sizes) whose
    # aliases defeat Spark's ReusedExchange; persist so the explode+distinct
    # runs once, not 3x. Size is O(total corpus chars) — at 100 TB checkpoint
    # to Parquet instead of memory (same plan shape).
    sh = _cache.register(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("_inter")))
    return (inter
            .join(sizes.withColumnRenamed("_sz", "_sa")
                  .withColumnRenamed(id_col, "id_a"), "id_a")
            .join(sizes.withColumnRenamed("_sz", "_sb")
                  .withColumnRenamed(id_col, "id_b"), "id_b"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_n: int = 5, threshold: float = 0.0,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity between document pairs.

    Without ``candidates``: all pairs sharing at least one shingle (inverted-
    index self-join — use only on bounded inputs or post-LSH). With
    ``candidates`` (id_a, id_b): verification join for the LSH pipeline.
    Returns (id_a, id_b, jaccard).
    """
    ov = _shingle_overlap(df, id_col, text_col, shingle_n, candidates)
    out = (ov.withColumn("jaccard", F.col("_inter")
                         / (F.col("_sa") + F.col("_sb") - F.col("_inter")))
           .select("id_a", "id_b", "jaccard"))
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            shingle_n: int = 5, threshold: float = 0.0,
                            candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram CONTAINMENT between document pairs: |A∩B|/|A| and
    |A∩B|/|B| — the asymmetric similarity sourmash computes for genomes
    (Snakefile:2529) and the right detector when a small document is
    embedded inside a much larger one (quote inclusion, contig-in-assembly):
    Jaccard vanishes as sizes diverge, containment stays at 1.0.

    Same inverted-index core and scale shape as ngram_jaccard_pairs; the
    two containments are row-local divisions. ``threshold`` keeps pairs
    whose LARGER containment passes (max form — direction-agnostic).
    """
    ov = _shingle_overlap(df, id_col, text_col, shingle_n, candidates)
    out = (ov.withColumn("containment_a", F.col("_inter") / F.col("_sa"))
           .withColumn("containment_b", F.col("_inter") / F.col("_sb"))
           .select("id_a", "id_b", "containment_a", "containment_b"))
    if threshold > 0:
        out = out.filter(F.greatest("containment_a", "containment_b")
                         >= threshold)
    return out


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens, pure builtin bit arithmetic.

    For each bit position, sum +1/-1 weighted by token-hash bit; sign → bit.

    ROW-LOCAL (zero shuffle): tokens are hashed once into a per-row hash
    array (the lambda binds the hash as a value, so the 64 per-bit sign reads
    cost shifts, not re-hashes), then one ``aggregate`` fold keeps a 64-wide
    running sign sum, and a final zip folds signs into the packed long
    (Σ 2^bit over positive sums — bits disjoint ⇒ sum == OR, sign bit
    included via two's complement). The signature is pure scan-stage compute;
    only the band-bucket explode downstream shuffles. (Earlier forms paid
    either a 64-agg codegen tax or two narrow shuffles; values are identical
    — the DuckDB jaccard oracle checks end-to-end.)
    """
    df = df.withColumn("_tk", F.filter(F.split(F.col(text_col), r"\s+"),
                                       lambda t: t != ""))
    hashes = F.transform(F.col("_tk"), lambda t: F.xxhash64(t))
    bits = F.sequence(F.lit(0), F.lit(63))
    init = F.array_repeat(F.lit(0).cast("long"), 64)
    sums = F.aggregate(
        hashes, init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(bits, lambda i: F.when(
                F.bit_get(h, i) == 1,
                F.lit(1).cast("long")).otherwise(F.lit(-1).cast("long"))),
            lambda a, b: a + b))
    # 2^bit literals; bit 63 is long-min (two's-complement sign bit), matching
    # java shiftleft(1L, 63)
    powers = F.array(*[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
                       for i in range(64)])
    packed = F.aggregate(
        F.zip_with(sums, powers,
                   lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    # token-less docs carry no signal: emitting them (all with simhash 0)
    # would put every empty doc in the same bucket in every band — an O(m²)
    # candidate blowup. Same omission semantics as the explode-based form.
    return (df.filter(F.array_size("_tk") > 0)
            .select(id_col, packed.alias("simhash")))


def _band_bucket(col, i: int, width: int):
    """Bit slice i of a 64-bit signature as a bucket key. width == 64
    (bands=1) short-circuits to the raw column: the (1<<64)-1 mask would
    overflow Spark's signed LongType literal, and masking the full word
    is a no-op anyway."""
    if width == 64:
        return F.col(col) if isinstance(col, str) else col
    return (F.shiftrightunsigned(col, i * width)
            .bitwiseAND(F.lit((1 << width) - 1)))


def simhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       bands: int = 4, dedup_pairs: bool = True) -> DataFrame:
    """Near-dup candidates: equal 16-bit slice of the 64-bit simhash in ≥1 of
    ``bands`` bands (catches pairs within Hamming distance ~bands-1)."""
    if not 1 <= bands <= 64 or 64 % bands != 0:
        raise ValueError("bands must divide 64")
    sig = simhash_signatures(df, id_col, text_col)
    width = 64 // bands
    band_arr = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 _band_bucket("simhash", i, width).alias("bucket"))
        for i in range(bands)])
    buckets = _cache.register(
        sig.select(id_col, F.explode(band_arr).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket")))
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (a.join(b, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
    return pairs.distinct() if dedup_pairs else pairs  # see minhash note


def hamming_candidates(sig: DataFrame, id_col: str, hash_col: str,
                       bands: int = 4, max_hamming: int | None = None,
                       dedup_pairs: bool = True) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column (simhash, pHash,
    audio fingerprint) via the banded pigeonhole: two hashes within
    Hamming distance ``bands − 1`` must agree exactly on ≥ 1 of the
    ``bands`` equal-width bit slices, so candidates come from a band
    equi self-join — never an all-pairs scan. With ``max_hamming`` set,
    candidates are verified row-locally (``bit_count(a XOR b)``) and the
    output carries ``hamming``; the signature rides the bucket explode
    (+8 B per row) so verification needs NO join back to the hash table.

    Generalization of the simhash band machinery to signature-agnostic
    input (the pHash image-dedup consumer, SURVEY X173); recall contract:
    pairs at Hamming > bands−1 may still surface (same band by luck) and
    are kept only if they pass ``max_hamming``; pairs within bands−1 are
    ALWAYS candidates (pigeonhole, property-tested).
    """
    if not 1 <= bands <= 64 or 64 % bands != 0:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    band_arr = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 _band_bucket(hash_col, i, width).alias("bucket"))
        for i in range(bands)])
    buckets = _cache.register(
        sig.select(id_col, F.col(hash_col).alias("_h"),
                   F.explode(band_arr).alias("bb"))
        .select(id_col, "_h", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket")))
    a = buckets.select(F.col(id_col).alias("id_a"),
                       F.col("_h").alias("_ha"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"),
                       F.col("_h").alias("_hb"), "band", "bucket")
    pairs = (a.join(b, ["band", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
                     .alias("hamming")))
    if dedup_pairs:
        pairs = pairs.groupBy("id_a", "id_b") \
            .agg(F.min("hamming").alias("hamming"))
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs


# Auto-ceiling for broadcasting the node-grain label frame into each
# min-label round (same rationale as pagerank's rank broadcast: a
# (node, label) row is ~25 B, 1M nodes ≈ 25 MB per executor). Above it the
# hash-partitioned shuffle join is the only scale-safe shape.
_BROADCAST_LABELS_MAX_NODES = 1_000_000


# Auto-ceiling for the single-task union-find CC path: at ~16 B per
# (u, v) long pair plus dict overhead, 1M pairs is tens of MB in one
# Python task and unions run in near-linear time — well under the cost
# of even ONE distributed label-propagation round. Above it the
# iterative loop is the scale path. Same auto-gate convention as
# similarity._BRUTE_PAIRGEN_MAX_ROWS.
_LOCAL_CC_MAX_PAIRS = 1_000_000


def _cc_local(half: DataFrame) -> DataFrame:
    """Single-task connected components: union-find with union-to-min.

    EXACTLY the dup_clusters contract — (id, label) with label = the
    component's min node id — computed in one ``mapInPandas`` task over
    the coalesced pair list. Min-label is integer math with an
    order-independent result, so the output is identical to the
    distributed loop's on any input on which that loop converges (and
    union-find always converges, diameter notwithstanding). Zero
    shuffles, zero per-round barriers/checkpoints: at small pair counts
    the whole CC stage is one narrow task (guide §2.4), where the loop
    form pays O(rounds) joins + aggregations + eager checkpoints.
    """
    from pyspark.sql.types import StructField, StructType
    id_type = half.schema["u"].dataType
    out_schema = StructType([StructField("id", id_type),
                             StructField("label", id_type)])

    def kernel(batches):
        import pandas as pd
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union-to-min: the root of every tree is its
                    # component's minimum, so find() IS the label
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        ids = list(parent)
        yield pd.DataFrame({"id": pd.Series(ids, dtype=object),
                            "label": pd.Series([find(x) for x in ids],
                                               dtype=object)})

    return half.coalesce(1).mapInPandas(kernel, out_schema)


def _cc_front(pairs: DataFrame, id_a: str,
              id_b: str) -> tuple[DataFrame, DataFrame | None]:
    """Both CC operators' front: one EAGER cut of the upstream pair plan
    and the ``_LOCAL_CC_MAX_PAIRS`` gate (its count reads the checkpoint).
    Returns (checkpointed (u, v) pairs, the :func:`_cc_local` result or
    None when the pairs do not fit one task)."""
    half = _ckpt.checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")))
    if half.count() <= _LOCAL_CC_MAX_PAIRS:
        return half, _cc_local(half)
    return half, None


def _symmetric(half: DataFrame) -> DataFrame:
    """Both directions of every (u, v) edge, deduplicated."""
    return half.unionByName(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id) with
    cluster_id = min doc id in the component. The step every dedup pipeline
    needs after pair generation (X2-X5 emit PAIRS; keeping one survivor per
    duplicate CLUSTER requires the transitive closure: a~b, b~c ⇒ {a,b,c}).

    Iterative min-label propagation: each round every node takes the min of
    its own label and its neighbors' labels — one shuffled join + groupBy per
    round, converging in O(component diameter) rounds (dup components are
    shallow: near-dup similarity is near-transitive). Early-exits when a
    round changes nothing. For high-diameter graphs use
    ``dup_clusters_star`` (alternating large-star/small-star, O(log n)
    rounds on any diameter); the reference point is the classic CC-over-
    candidate-pairs stage of web-scale dedup pipelines.

    Label broadcast (at ≤ ``_BROADCAST_LABELS_MAX_NODES`` nodes): the
    label frame is node-grain, so when it fits a broadcast each round
    joins it into the edge scan and the neighbor-min back into the labels
    without shuffling either side — measured −12% on a 150-pair graph
    (interleaved min-of-5), identical labels. Past the ceiling the
    shuffle join is the scale-safe form.

    Local fold (at ≤ ``_LOCAL_CC_MAX_PAIRS`` pairs): when the pair list
    fits one task, skip the loop entirely and run single-task union-find
    (:func:`_cc_local`) — identical labels (min-label is order-independent
    integer math), zero per-round barriers.

    Both distributed forms stay because each wins on some input (local
    fold off, ``local[4]``, min of 3): this loop vs star took 1.50 vs
    2.75 s on the sf0.1 ``dup_clusters`` pairs and 3.56 vs 7.64 s on a
    150k-pair shallow graph (identical labels); on a 40-node chain this
    loop raises at ``max_iter=20`` while star converges in 7.51 s.
    """
    half, local = _cc_front(pairs, id_a, id_b)
    if local is not None:
        return local
    edges = _ckpt.checkpoint(_symmetric(half))
    _ckpt.free(half)  # the symmetric edge set carries everything the loop needs
    labels = _ckpt.checkpoint(
        edges.select(F.col("u").alias("id")).distinct()
        .withColumn("label", F.col("id")))
    labels_ck = labels
    # labels are NODE-grain (docs touched by any near-dup pair) — when
    # they fit a broadcast, each round's two label joins skip the edge
    # shuffle entirely (cheap count: labels is already materialized)
    broadcast_labels = labels.count() <= _BROADCAST_LABELS_MAX_NODES
    for _ in range(max_iter):
        label_side = F.broadcast(labels) if broadcast_labels else labels
        nbr_min = (edges.join(label_side, edges.v == labels.id)
                   .groupBy("u").agg(F.min("label").alias("_nbr")))
        nbr_side = F.broadcast(nbr_min) if broadcast_labels else nbr_min
        relabel = F.least(F.col("label"),
                          F.coalesce(F.col("_nbr"), F.col("label")))
        new = _ckpt.checkpoint(
            labels.join(nbr_side, labels.id == nbr_min.u, "left")
            .select(labels.id, relabel.alias("label"),
                    # convergence flag computed INLINE: the old form
                    # re-joined new against labels just to count changes
                    # — a whole extra shuffle join per round; the flag is
                    # known at relabel time for free
                    (relabel != F.col("label")).alias("_chg")))
        # localCheckpoint, not persist: each round's plan references
        # the previous round twice, so an un-truncated lineage DOUBLES
        # per round and Catalyst re-analysis goes exponential (round 0
        # took 7s, round 1 33s on a 200-node graph). Checkpointing
        # pins the round to its materialized RDD and keeps every
        # round's plan constant-size. (Same pattern GraphFrames uses
        # for iterative CC.) _ckpt.free actually releases the replaced
        # round's blocks — DataFrame.unpersist() is a no-op for
        # checkpoints, so without this every round LEAKS a pinned RDD
        # into the session (guide §5).
        changed = new.filter(F.col("_chg")).count()  # scan of the
        # just-materialized checkpoint, not a recomputation
        _ckpt.free(labels_ck)
        labels_ck = new
        labels = new.drop("_chg")
        if changed == 0:
            break
    else:
        # silent non-convergence would return labels that split one true
        # component into several clusters — corrupt dedup survivors, no
        # symptom. Near-dup components are shallow; a diameter beyond
        # max_iter means the input is not what this operator is for.
        raise RuntimeError(
            f"dup_clusters did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter or "
            "pre-partition the pair graph")
    _ckpt.free(edges)  # the converged labels no longer reference the edges
    return labels


def keep_best_per_cluster(corpus: DataFrame, labels: DataFrame,
                          id_col: str = "doc_id", score_col: str = "score",
                          label_id: str = "id",
                          label_col: str = "label") -> DataFrame:
    """Cluster survivor selection: given docs and near-dup cluster labels
    (from ``dup_clusters``), keep the highest-``score_col`` doc per cluster
    (ties → smallest id); docs absent from ``labels`` are singleton clusters
    and always survive. The final stage of a corpus dedup pipeline —
    pairs → clusters → ONE representative per duplicate set, chosen by
    quality rather than arrival order.

    Scale: winner selection is ``windows.top1_by_agg`` — a map-side-
    combinable struct-min aggregate (no per-cluster sort window), so the
    only shuffles are the label attach (labels ≪ corpus: only clustered
    docs have rows — broadcast when they fit) and the cluster-grain agg,
    which carries two longs per cluster, never document bodies. NULL scores
    rank WORST (coalesced to -inf before the descending key is negated;
    raw struct-min would rank them first and crown an unscored doc).
    """
    from glamr_omics_pipelines_spark.operators.windows import top1_by_agg
    lab = labels.select(F.col(label_id).alias("_lid"),
                        F.col(label_col).alias("_cl"))
    d = (corpus.join(lab, corpus[id_col] == F.col("_lid"), "left")
         .withColumn("cluster_id", F.coalesce(F.col("_cl"), F.col(id_col)))
         .drop("_lid", "_cl"))
    filled = d.withColumn("_score_filled",
                          F.coalesce(F.col(score_col).cast("double"),
                                     F.lit(float("-inf"))))
    winners = (top1_by_agg(filled, ["cluster_id"],
                           [("_score_filled", False), (id_col, True)],
                           [id_col])
               .select("cluster_id", F.col(id_col).alias("_winner")))
    return (d.join(winners, "cluster_id")
            .withColumn("kept", F.col(id_col) == F.col("_winner"))
            .drop("_winner"))


def embedding_cosine_dups(emb: DataFrame, id_col: str, vec_col: str,
                          threshold: float = 0.95,
                          candidates: DataFrame | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim >= threshold).

    Pair generation is auto-gated at one site,
    ``similarity._over_gate``: below ``similarity._BRUTE_PAIRGEN_MAX_ROWS``
    corpus rows the exact O(n²) enumeration runs (the oracle baseline);
    above it, candidates are
    auto-derived from :func:`similarity.lsh_candidate_pairs` so no caller
    silently hits n²/2 dot products at scale (recall < 1 by LSH nature —
    every surviving pair is still EXACTLY verified against ``threshold``,
    and the LSH shape is sized via
    :func:`similarity.lsh_params_for_threshold` to reach ≥0.95 candidate
    recall AT this threshold — ADVICE r7: the old fixed 12×4 shape
    silently dropped ~27% of true pairs at threshold 0.95). An explicit
    ``candidates`` frame (e.g. pre-bucketed and persisted across calls)
    is the pair list instead, and then no probe runs. The auto probe (one
    bounded limit(N+1)-count) is memoized per logical plan — repeated
    calls on the same corpus pay it once. Cosine computed with
    higher-order functions in the JVM.
    """
    from glamr_omics_pipelines_spark.operators import similarity
    from glamr_omics_pipelines_spark.operators.similarity import (
        as_double_vec, dot_col, norm_col)
    if candidates is None and similarity._over_gate(emb):
        candidates = similarity.lsh_candidate_pairs(
            emb, id_col, vec_col,
            **similarity.lsh_params_for_threshold(threshold))
    # per-ROW norm + double-cast below the join: the n² join condition then
    # evaluates only a dot product and one divide per pair, not two norm
    # reductions + two array casts per pair.
    a = emb.select(F.col(id_col).alias("id_a"),
                   as_double_vec(vec_col).alias("_va"),
                   norm_col(vec_col).alias("_na"))
    b = emb.select(F.col(id_col).alias("id_b"),
                   as_double_vec(vec_col).alias("_vb"),
                   norm_col(vec_col).alias("_nb"))
    if candidates is not None:
        # the candidate list IS the pair generator: two EQUI joins fetch
        # the vectors for exactly the candidate pairs. (A semi-join on top
        # of the a×b inequality join would NOT bound the work — the semi
        # keys reference both legs, so Catalyst cannot push it below the
        # nested-loop pair enumeration, and the plan would still evaluate
        # all O(n²) dot products before filtering.)
        pairs = (candidates.select("id_a", "id_b").distinct()
                 .filter(F.col("id_a") < F.col("id_b"))
                 .join(a, "id_a").join(b, "id_b"))
    else:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    # try_divide: a zero embedding (norm 0) yields null cosine (the pair is
    # then dropped by the threshold filter) instead of an ANSI error
    cos = F.try_divide(dot_col("_va", "_vb"), F.col("_na") * F.col("_nb"))
    return (pairs.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def dup_clusters_star(pairs: DataFrame, id_a: str = "id_a",
                      id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the web-scale formulation ``dup_clusters`` documents as its
    high-diameter escape hatch. Same output contract: (id, label) with
    label = min node id of the component.

    Why this shape at 100 TB: min-label propagation needs O(diameter)
    rounds; star contraction halves tree heights every alternation, so
    convergence is O(log n) rounds on ANY graph — path-shaped near-dup
    chains (doc A ~ B ~ C ~ ... from content drift) stop being the worst
    case. Each phase is one groupBy + one join on node ids carrying two
    longs per edge; per-round plans are pinned constant-size with eager
    localCheckpoints exactly like dup_clusters.

    Same ``_LOCAL_CC_MAX_PAIRS`` local fold as ``dup_clusters``, and both
    distributed forms stay: this one is ~2× slower on shallow graphs but
    alone converges on long chains (measured in ``dup_clusters``).
    """
    raw, local = _cc_front(pairs, id_a, id_b)
    if local is not None:
        return local
    # node set from the RAW pairs (a node whose only edge is a self-loop
    # must still get a self-label, matching dup_clusters' contract); the
    # edge set then drops self-loops
    nodes = _ckpt.checkpoint(
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id"))).distinct())
    edges = _ckpt.checkpoint(_symmetric(raw.filter(F.col("u") != F.col("v"))))
    _ckpt.free(raw)

    def large_star(ed: DataFrame) -> DataFrame:
        mins = (ed.groupBy("u")
                .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        return (ed.join(mins, "u").filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v")).distinct())

    def small_star(ed: DataFrame) -> DataFrame:
        sm = ed.filter(F.col("v") < F.col("u"))
        mins = (sm.groupBy("u")
                .agg(F.min("v").alias("m")))
        nbr = (sm.join(mins, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
        own = sm.join(mins, "u").select("u", F.col("m").alias("v")).distinct()
        return (nbr.unionByName(own)
                .filter(F.col("u") != F.col("v")).distinct())

    for _ in range(max_iter):
        after_large = _ckpt.checkpoint(large_star(edges))
        # re-symmetrize for the next phase's neighborhood views
        after_small = _ckpt.checkpoint(small_star(_symmetric(after_large)))
        _ckpt.free(after_large)
        new_sym = _ckpt.checkpoint(_symmetric(after_small))
        _ckpt.free(after_small)
        changed = (new_sym.exceptAll(edges).limit(1).count()
                   + edges.exceptAll(new_sym).limit(1).count())
        _ckpt.free(edges)
        edges = new_sym
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters_star did not converge within max_iter={max_iter}")
    # at convergence the directed form v<u is a star: every node points at
    # its component min. Nodes can appear only as roots; give them self-labels.
    stars = edges.filter(F.col("v") < F.col("u")) \
        .select(F.col("u").alias("id"), F.col("v").alias("label"))
    return (nodes.join(stars, "id", "left")
            .select("id", F.coalesce("label", F.col("id")).alias("label")))


def line_dedup(df: DataFrame, id_col: str, text_col: str,
               min_docs: int = 2, min_line_chars: int = 1,
               out: str = "clean_text", hash_keys: bool = False) -> DataFrame:
    """Inter-document line-level deduplication (C4 / RefinedWeb-style
    boilerplate removal): delete every line whose exact content occurs in at
    least ``min_docs`` DISTINCT documents (nav bars, cookie banners, footer
    boilerplate), then reassemble each document's surviving lines in their
    original order. Documents whose every line is boilerplate come back as
    the empty string, never dropped.

    Eligibility is purely content-based: lines shorter than
    ``min_line_chars`` are never counted and never removed (blank/trivial
    lines are formatting, not boilerplate evidence). Because the predicate
    depends only on the line text, the boilerplate set can be anti-joined
    against ALL lines without re-checking eligibility.

    Scale shape: one posexplode scan; a line-grain count-distinct partial
    agg whose output is the boilerplate set (<< corpus — broadcastable for
    the anti join); per-doc ordered reassembly via a map-side
    sort_array(collect_list(struct(pos, line))). Three shuffles total (the
    count-distinct aggregates in two phases — (line, doc) then line — and
    reassembly exchanges on doc), no windows, no Python. With the default
    ``hash_keys=False`` the agg/anti-join key is the line text itself
    (byte-exact, oracle-mirrorable); ``hash_keys=True`` keys both on
    xxhash64(line) so the exchanges carry 8-byte hashes instead of line
    bodies — the petabyte-scale form (a 64-bit collision wrongly removes a
    unique line with probability ~n_lines²/2⁶⁵; acceptable for curation,
    not for the oracle).

    Beyond-reference training-data operator (SURVEY §8); no direct reference
    analog — nearest precedent is the exact read dedup family
    (Snakefile:429-473) applied at sub-document grain.
    """
    key = (lambda c: F.xxhash64(c)) if hash_keys else (lambda c: c)
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")) \
        .withColumn("_k", key(F.col("line")))
    common = (lines
              .filter(F.length("line") >= min_line_chars)
              .groupBy("_k")
              .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
              .filter(F.col("n_docs") >= min_docs)
              .select("_k"))
    kept = lines.join(F.broadcast(common), "_k", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "line"))),
                       lambda s: s["line"]),
                   "\n").alias(out)))
    return (df.join(rebuilt, id_col, "left")
            .withColumn(out, F.coalesce(F.col(out), F.lit(""))))


def span_dedup(df: DataFrame, id_col: str, text_col: str,
               w: int = 8, min_docs: int = 2,
               out: str = "clean_text", hash_keys: bool = False) -> DataFrame:
    """Duplicated-span removal at token grain (the ExactSubstr dedup of
    "Deduplicating Training Data Makes Language Models Better", Lee et al.
    2022, re-expressed as seed-gram coverage): every ``w``-token window whose
    exact token string occurs in >= ``min_docs`` DISTINCT documents marks
    all ``w`` of its token positions as duplicated; duplicated positions are
    removed and each document's surviving tokens are rejoined in order.
    Overlapping duplicated windows merge naturally into maximal spans —
    exactly the suffix-array formulation's output for spans >= w tokens,
    with the O(corpus log corpus) suffix array replaced by two shuffles over
    exploded w-grams.

    Output is the canonical SPACE-joined token stream (tokenization is
    ``[ \\t\\n]+`` — an explicit class, not ``\\s``, for cross-engine regex
    agreement); documents shorter than ``w`` tokens pass through unchanged
    (normalized), never dropped. ``n_removed_tokens`` counts excised tokens.

    Scale shape: one explode to (doc, start, gram); a gram-grain
    count-distinct partial agg whose output (the duplicated-gram set) is
    broadcast back; covered starts fan out ×w into covered positions
    (bounded), and the anti join against token positions needs NO distinct
    on the right side (anti-join semantics ignore right duplicates — one
    shuffle saved); rebuild is a map-side sort_array(collect_list). With the
    default ``hash_keys=False`` the gram agg/join key is the w-token string
    (byte-exact, oracle-mirrorable); ``hash_keys=True`` keys both on
    xxhash64(gram) so the exchanges carry 8-byte hashes, not w-token
    strings — the petabyte-scale form (a collision wrongly excises one
    unique span; acceptable for curation, not for the oracle).
    """
    key = (lambda c: F.xxhash64(c)) if hash_keys else (lambda c: c)
    toks = F.filter(F.split(F.col(text_col), "[ \\t\\n]+"),
                    lambda t: t != "")
    base = df.select(F.col(id_col), toks.alias("_toks"))
    n = F.array_size(F.col("_toks"))
    starts = F.when(n >= w, F.sequence(F.lit(1), n - F.lit(w - 1))) \
        .otherwise(F.array().cast("array<int>"))
    grams = (base
             .select(F.col(id_col),
                     F.explode(starts).alias("start"),
                     F.col("_toks"))
             .select(F.col(id_col), "start",
                     key(F.concat_ws(" ", F.slice(F.col("_toks"),
                                                  F.col("start"), w)))
                     .alias("gram")))
    dup = (grams.groupBy("gram")
           .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
           .filter(F.col("n_docs") >= min_docs)
           .select("gram"))
    cov_pos = (grams.join(F.broadcast(dup), "gram")
               .select(F.col(id_col),
                       F.explode(F.sequence(F.col("start"),
                                            F.col("start") + F.lit(w - 1)))
                       .alias("pos")))
    tok_rows = base.select(
        F.col(id_col),
        F.posexplode(F.col("_toks")).alias("pos0", "tok")) \
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tok_rows.join(cov_pos, [id_col, "pos"], "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                       lambda s: s["tok"]), " ").alias(out),
                   F.count(F.lit(1)).alias("_n_kept")))
    totals = base.select(F.col(id_col), n.alias("_n_total"))
    return (df.join(rebuilt, id_col, "left")
            .join(totals, id_col)
            .withColumn(out, F.coalesce(F.col(out), F.lit("")))
            .withColumn("n_removed_tokens",
                        (F.col("_n_total")
                         - F.coalesce(F.col("_n_kept"), F.lit(0)))
                        .cast("bigint"))
            .drop("_n_kept", "_n_total"))


def semdedup(emb: DataFrame, id_col: str, vec_col: str,
             centroids: list[list[float]], threshold: float = 0.95,
             round_decimals: int = 6) -> DataFrame:
    """Cluster-scoped semantic deduplication (the SemDeDup shape, Abbas et
    al. 2023): assign every embedding to its nearest k-means cell, compute
    cosine similarity ONLY within a cell, and drop each row that has a
    smaller-id near-duplicate (cosine >= ``threshold``) in its cell — the
    deterministic keep-lowest-id survivor rule.

    Output: one row per input row — (``id_col``, ``ivf_cell``, ``dup_of``,
    ``keep``) where ``dup_of`` is the SMALLEST same-cell id whose cosine
    clears the threshold (NULL for survivors) and ``keep`` =
    ``dup_of IS NULL``.

    Why this beats global pair generation at 100 TB: the all-pairs work is
    Σ|cell|² instead of n² — with k balanced cells that is n²/k, and the
    pair join is an EQUI join on ``ivf_cell`` (hash-partitioned, AQE-
    splittable per cell), never a nested loop over the corpus. Write the
    corpus partitioned by ``ivf_cell`` once and the pair stage shuffles
    nothing but the cell keys. The quantizer (``centroids``) is
    metadata-scale (k × dim floats) and rides the plan as expression-tree
    literals — no second input, no driver round-trip per row, and its
    shape alone picks the assignment kernel (:func:`similarity.
    assign_cells`: value-exact expr below ``_ASSIGN_ARROW_MIN_CELL_DIMS``
    n_cells × dim, the BLAS arrow kernel at production cell counts —
    measured 26× at 220k rows × 800 cells). Train it with
    :func:`similarity.train_ivf_centroids` (bounded sample, cost
    independent of corpus size) or :func:`similarity.kmeans_lloyd` for
    full-corpus Lloyd iterations.

    Cosine is compared after ``F.round(_, round_decimals)`` so the
    threshold decision is stable across summation orders (JVM fold vs any
    oracle's list fold differ by ~1 ulp; a raw >= straddles it).

    Beyond-reference training-data operator (SURVEY §8); nearest reference
    precedent is the genome-similarity sourmash sketch family
    (Snakefile:2529) applied at embedding grain.
    """
    from glamr_omics_pipelines_spark.operators.similarity import (
        as_double_vec, assign_cells, dot_col, norm_col)
    # the assignment frame feeds THREE subplans (pair sides a/b + the
    # output grain) whose differing projections defeat ReuseExchange, so
    # without a persist the O(n_cells·dim)-per-row argmin runs 3× — at
    # production cell counts (SemDeDup scales cells with the corpus)
    # assignment rivals the pair stage itself (measured in
    # tools/semdedup_scale_sweep.py). At 100 TB, checkpoint this frame
    # to parquet instead (it IS the write_ivf_index layout).
    base = _cache.register(
        assign_cells(
            emb.select(F.col(id_col), as_double_vec(vec_col).alias("_v"),
                       norm_col(vec_col).alias("_n")),
            "_v", centroids, out="ivf_cell")
        .select(id_col, "ivf_cell", "_v", "_n"))
    a = base.select(F.col(id_col).alias("id_a"), "ivf_cell",
                    F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = base.select(F.col(id_col).alias("id_b"), "ivf_cell",
                    F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    cos = F.round(F.try_divide(dot_col("_va", "_vb"),
                               F.col("_na") * F.col("_nb")), round_decimals)
    dup_of = (a.join(b, "ivf_cell")
              .filter(F.col("id_a") < F.col("id_b"))
              .filter(cos >= F.lit(threshold))
              .groupBy(F.col("id_b").alias(id_col))
              .agg(F.min("id_a").alias("dup_of")))
    return (base.select(id_col, "ivf_cell")
            .join(dup_of, id_col, "left")
            .withColumn("keep", F.col("dup_of").isNull()))
