"""Abundance / normalization math (SURVEY §2.4 A5, A6, A9, A12).

Reference semantics:
  - rel_abund: ``rel_abund = count / sum(count) over sample``
    (code/merge_bracken.R:64-65, code/plot_contig_abund_uniref_LCA_single_sample.R:38)
  - RPKM: ``rpkm = n * 1e9 / (total_reads_in_sample * length)``
    (code/summarize_marker_gene_read_mapping.R:45-52)
  - TPM:  ``tpm = 1e6 * (n/len) / sum(n/len) over sample``
    (code/postgres_scripts/tpm.R:24-30; FPKM→TPM variant postgres.Rmd:1193)
  - weighted mean: ``sum(score*count)/sum(count)`` (code/ampliconTrunc.R:172-180)

Spark-first: the group totals attach via a partial aggregate + broadcast
join (_attach_group_sum), NOT a partition-only window. Spark 4 plans the
window form as Exchange(sample) + Sort and lands every fact row on at most
#groups partitions — a parallelism collapse whenever samples ≪ cores (the
r11 plan audit caught exactly that on the 5-group bench queries). The
aggregate form ships only group-grain rows and never exchanges the fact
side.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _attach_group_sum(df: DataFrame, term: Column, sample_cols: list[str],
                      out: str) -> DataFrame:
    """Attach sum(term) over the sample keys as column ``out`` via a
    group-grain partial aggregate + null-safe equi join, NOT a window.

    A partition-only window forces ``Exchange hashpartitioning(sample) +
    Sort`` and lands EVERY fact row on at most #groups partitions — with a
    handful of samples that is a parallelism collapse at any scale (the
    tpm bench query: 100k rows onto 5 partitions). The aggregate form
    computes totals map-side (partial agg), ships only group-grain rows,
    and re-attaches them with a broadcast join; the fact side is never
    exchanged. The shared
    upstream exchange is served to both branches by ReuseExchange.
    eqNullSafe keeps the window's null-key semantics (nulls form a group)."""
    # NOT persisted (r11 A/B): registering df here (upstream-once) measured
    # WORSE than letting both branches share exchanges lazily (tpm 1.79 vs
    # 2.26 min-of-5 interleaved) — the materialization barrier serializes
    # branches AQE otherwise overlaps.
    tot = df.groupBy(*sample_cols).agg(F.sum(term).alias(out))
    # Group-grain totals are sample-count rows (a few MB at any corpus
    # size for this family's sample/priority grains) — hint the broadcast
    # so the fact side is NEVER exchanged; without the hint the static
    # planner cannot size the aggregate and falls back to a sort-merge
    # join that shuffles the fact side.
    keyed = F.broadcast(tot.select(
        *[F.col(c).alias(f"_gs_{c}") for c in sample_cols], out))
    cond = functools.reduce(operator.and_, [
        F.col(c).eqNullSafe(F.col(f"_gs_{c}")) for c in sample_cols])
    return (df.join(keyed, cond, "left")
            .drop(*[f"_gs_{c}" for c in sample_cols]))


def rel_abund(df: DataFrame, value: str, sample_cols: list[str],
              out: str = "rel_abund") -> DataFrame:
    """Per-group relative abundance: value / sum(value) over the sample keys.

    try_divide: an all-zero group has total 0 — abundance is undefined
    there (null), not an ANSI DIVIDE_BY_ZERO that kills the whole job."""
    return (_attach_group_sum(df, F.col(value), sample_cols, "_tot")
            .withColumn(out, F.try_divide(F.col(value), F.col("_tot")))
            .drop("_tot"))


def rpkm(df: DataFrame, count: str, length: str, sample_cols: list[str],
         out: str = "rpkm") -> DataFrame:
    """Reads-per-kilobase-per-million: n*1e9/(sample_total*len); null on
    an all-zero sample or a zero-length feature (try_divide)."""
    return (_attach_group_sum(df, F.col(count), sample_cols, "_tot")
            .withColumn(out, F.try_divide(F.col(count) * F.lit(1e9),
                                          F.col("_tot") * F.col(length)))
            .drop("_tot"))


def tpm(df: DataFrame, count: str, length: str, sample_cols: list[str],
        out: str = "tpm") -> DataFrame:
    """Transcripts-per-million: 1e6*(n/len) / sum(n/len) over sample.

    Invariant (tested): sum(tpm) per sample == 1e6
    (the reference asserts the same shape in code/postgres_scripts/tpm.R).
    Degenerate groups (all-zero counts, zero lengths) yield null, never an
    ANSI divide error (try_divide).
    """
    rate = F.try_divide(F.col(count), F.col(length))
    return (_attach_group_sum(df, rate, sample_cols, "_tot")
            .withColumn(out, F.try_divide(F.lit(1e6) * rate, F.col("_tot")))
            .drop("_tot"))


def weighted_mean(value: str, weight: str) -> Column:
    """Aggregate expression: sum(value*weight)/sum(weight); null when the
    weights sum to 0 (undefined mean), never an ANSI divide error."""
    return F.try_divide(F.sum(F.col(value) * F.col(weight)), F.sum(weight))


def coverage_stats(df: DataFrame, group: str, depth: str = "depth",
                   trim_frac: float = 0.05) -> DataFrame:
    """coverM-style per-contig coverage aggregate (SURVEY A12; Snakefile:1663-1669).

    Input: one row per (contig_position | alignment) with a depth value.
    Output per group: mean, trimmed_mean (middle 1-2*trim_frac quantile band),
    variance, covered_bases, count.

    trimmed mean via rank-based trimming (coverM semantics: drop the bottom
    and top floor(trim_frac*n) values exactly) — one window + one aggregate,
    fully JVM-side.
    """
    w = Window.partitionBy(group).orderBy(F.col(depth).asc())
    wn = Window.partitionBy(group)
    ranked = (df.withColumn("_rn", F.row_number().over(w))
              .withColumn("_cnt", F.count(F.lit(1)).over(wn))
              .withColumn("_cut", F.floor(F.col("_cnt") * trim_frac)))
    in_band = (F.col("_rn") > F.col("_cut")) & (F.col("_rn") <= F.col("_cnt") - F.col("_cut"))
    return (ranked.groupBy(group)
            .agg(F.mean(depth).alias("mean"),
                 F.mean(F.when(in_band, F.col(depth))).alias("trimmed_mean"),
                 F.variance(depth).alias("variance"),
                 F.sum(F.when(F.col(depth) > 0, 1).otherwise(0)).alias("covered_bases"),
                 F.count(F.lit(1)).alias("count")))


def coverage_stats_quantile(df: DataFrame, group: str, depth: str = "depth",
                            trim_frac: float = 0.05,
                            accuracy: int = 10000) -> DataFrame:
    """coverage_stats' billion-row path: quantile-band trimming, no sort.

    The rank-based variant row_numbers (sorts) every depth row per group —
    exact, but a per-base coverage table at assembly scale is billions of
    rows per sample. Here the trim band comes from percentile_approx (one
    aggregation, mergeable sketches), then a second aggregation computes the
    conditional mean inside [lo, hi]. Two combine-friendly shuffles, nothing
    sorted. Differs from rank trimming only in how ties AT the band edge are
    counted (all tied values are kept, where rank trimming drops a fixed
    number) and by the sketch's bounded quantile error.
    """
    q = df.groupBy(group).agg(
        F.expr(f"percentile_approx({depth}, {trim_frac}, {accuracy})").alias("_lo"),
        F.expr(f"percentile_approx({depth}, {1 - trim_frac}, {accuracy})").alias("_hi"))
    joined = df.join(q, group)
    in_band = F.col(depth).between(F.col("_lo"), F.col("_hi"))
    return (joined.groupBy(group)
            .agg(F.mean(depth).alias("mean"),
                 F.mean(F.when(in_band, F.col(depth))).alias("trimmed_mean"),
                 F.variance(depth).alias("variance"),
                 F.sum(F.when(F.col(depth) > 0, 1).otherwise(0)).alias("covered_bases"),
                 F.count(F.lit(1)).alias("count")))


def winsorize(df: DataFrame, group_cols: list[str], value_col: str,
              lo: float = 0.05, hi: float = 0.95,
              out: str = "winsorized") -> DataFrame:
    """Per-group winsorization: clip ``value_col`` into the group's exact
    [lo, hi] quantile band (PERCENTILE_CONT interpolation). The robust-stats
    companion to coverM's trimmed_mean (Snakefile:1663-1669) — where trimmed
    mean DROPS the tails before averaging, winsorize CLIPS them, preserving
    row count for downstream per-row features.

    Group quantile bounds come from one partial-agg groupBy (two doubles per
    group), broadcast back onto the scan; the clip itself is a row-local
    least/greatest — no sort window over the data.
    """
    bounds = (df.groupBy(*group_cols)
              .agg(F.expr(f"percentile({value_col}, {lo}d)").alias("_lo"),
                   F.expr(f"percentile({value_col}, {hi}d)").alias("_hi")))
    return (df.join(F.broadcast(bounds), group_cols)
            .withColumn(out, F.greatest(F.col("_lo"),
                                        F.least(F.col("_hi"),
                                                F.col(value_col))))
            .drop("_lo", "_hi"))


def mad_outliers(df: DataFrame, group_cols: list[str], value_col: str,
                 k: float = 3.0) -> DataFrame:
    """Robust per-group outlier flags: |x − median| > k · MAD, where MAD is
    the median absolute deviation around the group median (both exact
    PERCENTILE_CONT medians). Mean/stddev outlier rules break down exactly
    when outliers are present (the outliers inflate the stddev); the
    median/MAD pair is the standard robust replacement for QC'ing abundance
    and quality-score distributions.

    Two grouped partial aggs (median, then deviation median), each one row
    per group broadcast back onto the scan; the flag itself is row-local.
    Groups with MAD = 0 (over half the values identical) flag any deviation
    > 0 — documented edge, matches the robust-stats convention of treating
    zero-MAD groups as degenerate.
    """
    med = (df.groupBy(*group_cols)
           .agg(F.expr(f"percentile({value_col}, 0.5d)").alias("med")))
    d = df.join(F.broadcast(med), group_cols) \
        .withColumn("abs_dev", F.abs(F.col(value_col) - F.col("med")))
    mad = (d.groupBy(*group_cols)
           .agg(F.expr("percentile(abs_dev, 0.5d)").alias("mad")))
    return (d.join(F.broadcast(mad), group_cols)
            .withColumn("is_outlier", F.col("abs_dev") > F.lit(k) * F.col("mad")))


def quantile_normalize(df: DataFrame, group_col: str, value_col: str,
                       id_col: str, out: str = "qnorm") -> DataFrame:
    """Quantile normalization across groups (the microarray/RNA-seq batch
    normalizer: force every sample's value distribution onto the common
    per-rank mean). Each row's value is replaced by the mean, across all
    groups, of the value at its within-group rank.

    Determinism: ranks tie-break on ``id_col`` (classic QN's tie-mean
    refinement changes only tied rows' split of the same mass; the id
    tiebreak keeps row-level output engine-reproducible). Unequal group
    sizes: ranks past a group's size simply average over the groups that
    reach them. Scale: one rank window per group + a rank-grain mean
    (ranks ≤ max group size — broadcast when groups are sample-sized) —
    never a group × group join.
    """
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.withColumn("_rk", F.row_number().over(w))
    means = ranked.groupBy("_rk").agg(F.avg(value_col).alias(out))
    return ranked.join(means, "_rk").drop("_rk")


def clr_transform(df: DataFrame, sample_col: str, count_col: str,
                  out: str = "clr") -> DataFrame:
    """Centered log-ratio transform per sample: clr(xᵢ) = ln(xᵢ) − mean ln(x)
    over the sample's components — the compositional-data normalization
    (Aitchison; ALDEx2/microbiome standard) that makes relative-abundance
    tables comparable across samples. Zero/negative counts are excluded
    (callers add pseudocounts upstream when they want them kept).

    One sample-grain mean-of-logs (broadcast back) + a row-local subtract.
    """
    d = df.filter(F.col(count_col) > 0)
    m = d.groupBy(sample_col).agg(F.avg(F.log(count_col)).alias("_mlog"))
    return (d.join(F.broadcast(m), sample_col)
            .withColumn(out, F.log(count_col) - F.col("_mlog"))
            .drop("_mlog"))


def deseq_size_factors(df: DataFrame, sample_col: str, taxon_col: str,
                       count_col: str) -> DataFrame:
    """DESeq2 median-of-ratios size factors: per taxon, the geometric mean
    of its counts across samples (taxa with any zero drop out, as DESeq2
    does); per sample, the MEDIAN of count/geomean ratios is its size
    factor — the sequencing-depth normalizer for count tables.

    Two narrow aggregates: a taxon-grain exp(mean(ln)) (partial-agg
    friendly) broadcast back, then a sample-grain exact median
    (interpolated ``percentile`` — same definition as the SQL oracle's
    quantile_cont).
    """
    d = df.groupBy(sample_col, taxon_col).agg(F.sum(count_col).alias("_c"))
    # sample count enters as a broadcast one-row aggregate, not a driver
    # collect — the whole factor computation stays one lazy plan
    n_samples = F.broadcast(d.select(sample_col).distinct()
                            .agg(F.count(F.lit(1)).alias("_tot")))
    present = (d.filter(F.col("_c") > 0)
               .groupBy(taxon_col)
               .agg(F.count(F.lit(1)).alias("_ns"),
                    F.exp(F.avg(F.log("_c"))).alias("_gm"))
               .crossJoin(n_samples)
               .filter(F.col("_ns") == F.col("_tot"))
               .select(taxon_col, "_gm"))
    ratios = (d.join(F.broadcast(present), taxon_col)
              .withColumn("_ratio", F.col("_c") / F.col("_gm")))
    return (ratios.groupBy(sample_col)
            .agg(F.expr("percentile(_ratio, 0.5d)").alias("size_factor")))


def gini_coefficient(df: DataFrame, group_cols: list[str], value_col: str,
                     tiebreak_col: str) -> DataFrame:
    """Gini concentration per group over nonnegative values:
    G = 2·Σ(i·x₍ᵢ₎)/(n·Σx) − (n+1)/n with x ascending — 0 for perfectly
    even, →1 for winner-takes-all. In omics: evenness of taxon abundance
    (the Lorenz twin of Pielou); in a training corpus: how concentrated
    the token/source mass is.

    One rank window (value asc, tiebreak) + one group-grain partial agg
    of Σx and Σ(i·x) — a single exchange. Zero-sum groups yield null.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(value_col).asc(), F.col(tiebreak_col).asc())
    d = (df.filter(F.col(value_col) >= 0)
         .withColumn("_i", F.row_number().over(w)))
    x = F.col(value_col).cast("double")
    agg = d.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(x).alias("_s"),
        F.sum(F.col("_i") * x).alias("_is"))
    g = F.when(F.col("_s") > 0,
               2 * F.col("_is") / (F.col("_n") * F.col("_s"))
               - (F.col("_n") + 1) / F.col("_n"))
    return agg.select(*group_cols,
                      F.col("_n").cast("bigint").alias("n"),
                      g.alias("gini"))
