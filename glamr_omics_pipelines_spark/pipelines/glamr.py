"""The reference's flagship tabular pipelines, re-expressed Spark-first.

Each function reproduces one end-to-end Layer-B/C pipeline from the reference
(file:line cited per function) over DataFrames. These are the "a user of the
reference could switch" entry points: same inputs (reference-layout files or
warehouse tables), same output semantics, one lazy Catalyst plan instead of
eager R (no driver-side loops, no per-taxon subprocess fan-out).

Scale notes are inline; the common pattern: dimensions broadcast, facts
shuffle once on their natural key (sample / gene / contig), windows partition
by bounded keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

from glamr_omics_pipelines_spark.operators import abundance, taxonomy, windows
from glamr_omics_pipelines_spark.operators.reshape import pivot_longer, pivot_wider
from glamr_omics_pipelines_spark.sources.readers import (read_typed_csv,
                                                         with_path_columns)

BRACKEN_SCHEMA = StructType([
    StructField("percent_abund", DoubleType()),
    StructField("count_w_subtax", LongType()),
    StructField("count_direct", LongType()),
    StructField("rank", StringType()),
    StructField("tax_id", IntegerType()),
    StructField("name", StringType()),
])

RPKM_SCHEMA = StructType([
    StructField("Name", StringType()),
    StructField("Length", LongType()),
    StructField("Bases", LongType()),
    StructField("Coverage", DoubleType()),
    StructField("Reads", LongType()),
    StructField("RPKM", DoubleType()),
    StructField("Frags", LongType()),
    StructField("FPKM", DoubleType()),
])

# where each file-fed loader finds its wildcard columns in a file's path
BRACKEN_PATTERN = "{sample}/bracken_{database}.tsv"
RPKM_PATTERN = "{sample}_genes.rpkm"


def bracken_long(spark: SparkSession, paths: str | list[str],
                 tax_info: DataFrame) -> DataFrame:
    """The long form of code/merge_bracken.R (SURVEY §7.1): scan per-sample
    bracken TSVs (a glob or a list of files; S4 path columns),
    broadcast-join taxonomy (J1), drop refseq rows duplicating GTDB domains
    (P2), per-sample rel_abund (A5). Lazy: no Spark job runs until the
    caller acts on it.

    One scan over all files — the reference's per-file read loop
    (merge_bracken.R:39-47) becomes a single multi-file DataFrame;
    `sample`/`database` come from the path (``BRACKEN_PATTERN``). Every
    value is per sample, so a scan of a subset of the samples' files gives
    those samples' rows unchanged.
    """
    raw = read_typed_csv(spark, paths, schema=BRACKEN_SCHEMA, header=False)
    scanned = with_path_columns(raw, BRACKEN_PATTERN)
    tax = tax_info.select("tax_id", "std_lineage", "kingdom")
    joined = scanned.join(F.broadcast(tax), "tax_id", "left")
    # P2: refseq rows whose lineage is a GTDB domain are duplicates
    # (merge_bracken.R:62-63)
    filtered = joined.filter(~((F.col("database") == "refseq")
                               & F.col("std_lineage").rlike(
                                   "^[kd]__(Archaea|Bacteria)")))
    species = filtered.filter(F.col("rank") == "S")
    return abundance.rel_abund(
        species.withColumn("n", F.col("count_w_subtax")),
        "n", ["sample", "database"])


def merge_bracken(spark: SparkSession, glob: str, tax_info: DataFrame,
                  samples: list[str] | None = None):
    """code/merge_bracken.R end-to-end: ``bracken_long``, then pivot to
    sample-wide count + rel-abund matrices (R1).

    Returns (long, counts_wide, relabund_wide). Without ``samples`` each
    pivot runs a distinct-values job eagerly, so a caller that needs only
    the long form calls ``bracken_long``.
    """
    long = bracken_long(spark, glob, tax_info)
    counts_wide = pivot_wider(long, ["tax_id", "name", "database"], "sample",
                              F.first("n"), values=samples, fill=0)
    relabund_wide = pivot_wider(long, ["tax_id", "name", "database"], "sample",
                                F.first("rel_abund"), values=samples, fill=0.0)
    return long, counts_wide, relabund_wide


def tpm_chain(read_mapping: DataFrame, uniref_lookup: DataFrame,
              uniref_index: DataFrame) -> DataFrame:
    """code/postgres_scripts/tpm.R:17-35 (J4 + A6): attach target length via
    the lookup→index chain (raw length is stored +2, postgres.Rmd:206-208),
    then per-sample TPM + RPKM. Both per-sample totals come from one
    aggregate and one broadcast join (``abundance.tpm_rpkm``).

    Scale: lookup/index are the UniRef dimension (~400M rows at production
    scale) — bucket both by `id` and the fact by `target` instead of
    broadcasting; here the broadcast hint keeps the small case shuffle-free.
    """
    dim = (uniref_lookup.join(uniref_index, "id")
           .select(F.col("uniref100").alias("target"),
                   (F.col("length") - 2).alias("target_len")))
    with_len = read_mapping.join(F.broadcast(dim), "target")
    return abundance.tpm_rpkm(with_len, "num_seqs_aligned", "target_len",
                              ["sample"])


def bin_summary(checkm: DataFrame, gtdb: DataFrame, drep: DataFrame) -> DataFrame:
    """The bin_summary VIEW (postgres.Rmd:124-165, J3): regexp-extract
    sample/binner/bin number from the bin id, 3-way left join of quality,
    taxonomy and dereplication tables. All three sides are bin-grain
    (metadata-scale) — broadcast the two right sides."""
    base = checkm.select(
        "bin",
        F.regexp_extract("bin", r"^(samp_\w+?)_[a-z]", 1).alias("sample"),
        F.regexp_extract("bin", r"_([a-z0-9]+)_\d+$", 1).alias("binner"),
        # nullif: a bin id without a trailing _<n> extracts "" and ANSI
        # cast('') raises — NA (null) is the reference's as.numeric behavior
        F.nullif(F.regexp_extract("bin", r"_(\d+)$", 1), F.lit(""))
        .cast("int").alias("bin_number"),
        "completeness", "contamination")
    quality = base.withColumn(
        "quality_band",
        F.when((F.col("completeness") > 90) & (F.col("contamination") < 5), "High")
        .when((F.col("completeness") > 50) & (F.col("contamination") < 10), "Medium")
        .otherwise("Low"))
    return (quality
            .join(F.broadcast(gtdb), "bin", "left")
            .join(F.broadcast(drep.select("bin", "secondary_cluster",
                                          "is_cluster_rep")), "bin", "left"))


def kofam_anvio(kofam: DataFrame) -> DataFrame:
    """The reference's most SQL-rich query — the anvio-heuristic kofam MV
    (postgres.Rmd:1418-1432 dplyr == 1455-1532 SQL, W2): three stacked window
    layers pick ≤1 KO per gene. Direct reuse of the engine operator."""
    return windows.anvio_stacked_filter(
        kofam, "gene", "score", "thrshld", "e_value",
        e_cutoff=1e-5, score_frac=0.5, tiebreak_cols=["ko"])


def read_ladder(read_counts: DataFrame) -> DataFrame:
    """read_count ingestion (postgres.Rmd:252-292): pivot fwd/rev to long
    (R4) then lag-derived percent_retained per (sample, direction) ordered
    by pipeline stage (W3)."""
    long = pivot_longer(read_counts, ["sample", "read_state", "state_order"],
                        ["fwd_read_count", "rev_read_count"],
                        name_col="direction", value_col="count")
    long = long.withColumn("direction",
                           F.regexp_replace("direction", "_read_count", ""))
    return windows.lag_retention_ladder(long, ["sample", "direction"],
                                        "state_order", "count",
                                        out="percent_retained")


def load_gene_abundance(spark: SparkSession,
                        paths: str | list[str]) -> DataFrame:
    """gene_abundance ingestion (postgres.Rmd:1169-1259): bbmap rpkm files
    (a glob or a list of files; ``RPKM_PATTERN`` names the sample) with
    prodigal headers. The two-stage separate (R6) splits '#Name' into
    gene coordinates + the key=value attribute block; FPKM→TPM per sample
    (postgres.Rmd:1193).

    comment='#' drops both the 4 preamble lines and the '#Name' header, so
    the explicit schema is the contract (inferred-then-pinned, SURVEY §1.2).
    """
    raw = read_typed_csv(spark, paths, schema=RPKM_SCHEMA, header=False,
                         comment="#")
    raw = with_path_columns(raw, RPKM_PATTERN)
    # try_element_at / try_cast / nullif: a malformed prodigal header (fewer
    # ' # '-separated fields, or a non-numeric coordinate) yields null fields
    # for THAT row — under plain element_at/cast, ANSI mode would abort the
    # whole import batch on one dirty line
    parts = F.split("Name", r" # ")
    attrs = F.try_element_at(parts, F.lit(5))
    genes = raw.select(
        "sample",
        F.try_element_at(parts, F.lit(1)).alias("gene"),
        F.try_element_at(parts, F.lit(2)).try_cast("long").alias("left"),
        F.try_element_at(parts, F.lit(3)).try_cast("long").alias("right"),
        F.try_element_at(parts, F.lit(4)).try_cast("int").alias("strand"),
        F.nullif(F.regexp_extract(attrs, r"gc_cont=([\d.]+)", 1), F.lit(""))
        .cast("double").alias("gc_content"),
        F.regexp_extract("Name", r"^(.+)_\d+ #", 1).alias("contig"),
        "Length", "Reads", "RPKM", "FPKM")
    w = Window.partitionBy("sample")
    # try_divide: a sample whose every FPKM is 0 yields null tpm, not an
    # ANSI divide error that would fail the whole import batch
    return genes.withColumn(
        "tpm", F.try_divide(F.col("FPKM"), F.sum("FPKM").over(w)) * F.lit(1e6))


def annotate_contigs(gene_hits: DataFrame, hit_lineage: DataFrame,
                     hit_funcs: DataFrame, evalue_cutoff: float = 1e-5):
    """code/AnnotateContigs.pl:655-765 (J9 + W1 + A11 + A8): the Perl nested
    hash-join chain as a relational plan. Per gene: best hit by e-value;
    attach the hit's lineage and function; per contig: LCA across its genes'
    lineages + function tally.

    Returns (gene_annotations, contig_lca, contig_func_counts). The Perl
    version holds all three lookup hashes in one process's memory; here the
    lookups broadcast (dimension-sized) and genes stay partition-parallel.
    """
    filtered = gene_hits.filter(F.col("evalue") <= evalue_cutoff)
    best = windows.top1_per_group(
        filtered, ["gene"],
        [F.col("evalue").asc(), F.col("bitscore").desc(), F.col("hit").asc()])
    genes = (best
             .join(F.broadcast(hit_lineage), "hit", "left")
             .join(F.broadcast(hit_funcs), "hit", "left")
             .withColumn("contig", F.regexp_extract("gene", r"^(.+)_\d+$", 1)))
    contig_lca = taxonomy.lca_aggregate(
        genes.filter(F.col("lineage_path").isNotNull()),
        ["contig"], "lineage_path")
    func_counts = (genes.filter(F.col("function").isNotNull())
                   .groupBy("contig", "function")
                   .agg(F.count(F.lit(1)).alias("n_genes")))
    return genes, contig_lca, func_counts


HMM_TBLOUT_COLS = ["target_name", "target_acc", "query_name", "acc",
                   "hmm_from", "hmm_to", "align_from", "align_to",
                   "env_from", "env_to", "modlen", "strand",
                   "evalue", "score", "bias"]


def load_hmm_tblout(spark: SparkSession, path: str) -> DataFrame:
    """nhmmscan tblout parse (summarize_hmmscan.R:20-55, FIXTURES §17):
    whitespace-aligned columns, '#' comments, free-text description tail.
    split(limit=16) keeps the description intact; numeric cols cast after."""
    lines = spark.read.text(path).filter(~F.col("value").startswith("#"))
    parts = F.split(F.trim("value"), r"\s+", len(HMM_TBLOUT_COLS) + 1)
    ints = {"hmm_from", "hmm_to", "align_from", "align_to", "env_from",
            "env_to", "modlen"}
    doubles = {"evalue", "score", "bias"}
    cols = []
    # try_element_at / try_cast: a truncated or corrupt tblout line (fewer
    # whitespace fields, non-numeric cell) nulls that row's fields instead
    # of raising the ANSI OOB/cast error and killing the scan
    for i, name in enumerate(HMM_TBLOUT_COLS):
        c = F.try_element_at(parts, F.lit(i + 1))
        if name in ints:
            c = c.try_cast("long")
        elif name in doubles:
            c = c.try_cast("double")
        cols.append(c.alias(name))
    cols.append(F.try_element_at(parts, F.lit(len(HMM_TBLOUT_COLS) + 1))
                .alias("description"))
    return lines.select(*cols)


def summarize_hmmscan(hits: DataFrame):
    """code/summarize_hmmscan.R:58-85 (W1 + A4 + case_when): best model per
    read (slice_min evalue, ties broken deterministically), then per-model n
    + exact medians of the position/score columns, with the model name split
    into gene/tax_group labels (16S_bac -> 16S, bac)."""
    winners = windows.top1_per_group(
        hits, ["query_name"],
        [F.col("evalue").asc(), F.col("score").desc(),
         F.col("target_name").asc()])
    med = lambda c: F.expr(f"percentile({c}, 0.5)").alias(f"median_{c}")  # noqa: E731
    summary = (winners.groupBy("target_name")
               .agg(F.count(F.lit(1)).alias("n"),
                    med("hmm_from"), med("hmm_to"),
                    med("align_from"), med("align_to"),
                    med("score"), med("evalue"))
               .withColumn("gene",
                           F.regexp_extract("target_name", r"^([^_]+)_", 1))
               .withColumn("tax_group",
                           F.regexp_extract("target_name", r"_([a-z]+)$", 1)))
    return winners, summary


def rename_contigs(fasta: DataFrame, sample: str) -> DataFrame:
    """code/rename_contigs.R:46-83 (W6 + S2): standardize assembler headers
    (megahit ``k141_{n} flag=... len=...`` or spades ``NODE_{n}_length_..._cov_...``)
    to sequential ``{sample}_{i}`` ids ordered by header, returning the
    old→new mapping with parsed metadata.

    Single-partition window by design — contig inventories are
    metadata-scale (the reference sorts them in one R process too)."""
    def rx(pat, typ=None):
        # regexp_extract yields '' (not NULL) on no-match; ANSI casts reject ''
        v = F.nullif(F.regexp_extract("header", pat, 1), F.lit(""))
        return v.cast(typ) if typ else v

    parsed = fasta.select(
        "header", "seq",
        F.coalesce(rx(r"^(k\d+_\d+)"), rx(r"^(NODE_\d+)")).alias("old_id"),
        F.coalesce(rx(r"len=(\d+)", "long"), rx(r"length_(\d+)", "long"),
                   F.length("seq").cast("long")).alias("contig_len"),
        rx(r"(?:multi|cov)[=_]([\d.]+)", "double").alias("coverage"))
    renumbered = windows.sequential_ids(
        parsed, [F.col("old_id").asc()], out="contig_number")
    return renumbered.withColumn(
        "contig", F.concat(F.lit(sample), F.lit("_"), F.col("contig_number")))


def standardize_bins(bin_files: DataFrame, sample_col: str = "sample",
                     binner_col: str = "binner") -> DataFrame:
    """code/standardize_bins.R:92-99 (W6 + S4): renumber a multi-binner bin
    inventory by file create_time — ``arrange(create_time) %>%
    mutate(bin_num = row_number())`` — and derive the standardized
    ``{sample}_{binner}_{bin_num}`` name.

    ``bin_files`` must carry ``path`` + ``file_mtime`` columns (from
    ``sources.readers.list_files`` or a ``with_path_columns(...,
    file_metadata=True)`` scan) plus sample/binner labels. ``path`` breaks
    mtime ties so the numbering is total and deterministic (same-second
    writes are common on fast filesystems; R's row_number has the same
    ambiguity and resolves it by listing order).

    Single-partition window by design: bin inventories are metadata-scale
    (hundreds per sample), matching the reference's single R process.
    """
    ordered = windows.sequential_ids(
        bin_files.filter(F.col(sample_col) != "coassembly"),
        [F.col("file_mtime").asc(), F.col("path").asc()], out="bin_num")
    return ordered.withColumn(
        "new_bin_name",
        F.concat_ws("_", F.col(sample_col), F.col(binner_col),
                    F.col("bin_num")))


def export_coverage_slices(wide: DataFrame, contig_col: str,
                           sample_cols: list[str], out_dir: str) -> list[str]:
    """code/create_maxbin_coverage.R:36-54 (R8): per-sample depth-file export
    from a metabat-style wide coverage matrix. The loop is driver-side by
    nature (one OUTPUT FILE per sample) but each write is a distributed
    single-column projection — no collect."""
    paths = []
    for s in sample_cols:
        path = f"{out_dir}/{s}.depth.tsv"
        (wide.select(contig_col, s)
         .write.mode("overwrite").option("sep", "\t")
         .option("header", False).csv(path))
        paths.append(path)
    return paths


def tax_subtree_rollup(contig_abund: DataFrame, tax_info: DataFrame) -> DataFrame:
    """code/tax_abund_from_contigs.R:60-92 (A2): join contig abundance to its
    LCA taxon, then per-taxon direct + subtree TPM sums via ONE
    lineage-closure join — replacing the reference's per-taxon `taxonkit
    list` subprocess fan-out (furrr::future_map_dfr).

    Includes the reference's own sanity invariant: subtree >= direct.
    """
    nodes = tax_info.select(
        F.col("tax_id").cast("long").alias("tax_id"),
        F.split("std_lineage", ";").alias("path"),
        F.col("std_lineage"))
    # ancestor key = FULL lineage prefix, not the last label: taxon names are
    # homonymous in real taxonomies (same genus label under two kingdoms) and
    # a label-keyed join would cross-attribute both subtrees. The prefix
    # string equals the ancestor's own std_lineage — unique by construction.
    closure = nodes.select(
        F.col("tax_id").alias("descendant"),
        F.explode(F.transform(
            F.sequence(F.lit(1), F.array_size("path")),
            lambda i: F.array_join(F.slice("path", 1, i), ";")))
        .alias("ancestor_lineage"))
    prefix_to_id = nodes.select(
        F.col("std_lineage").alias("ancestor_lineage"),
        F.col("tax_id").alias("ancestor"))
    closure = (closure.join(F.broadcast(prefix_to_id), "ancestor_lineage")
               .select("ancestor", "descendant"))
    abund = contig_abund.select(F.col("tax_id").cast("long"), "tpm", "sample")
    per_taxon = abund.groupBy("sample", "tax_id").agg(
        F.sum("tpm").alias("tpm"))
    direct = per_taxon.select("sample", F.col("tax_id").alias("node"),
                              F.col("tpm").alias("abund_direct"))
    sub = (per_taxon.join(closure, per_taxon.tax_id == closure.descendant)
           .groupBy("sample", F.col("ancestor").alias("node"))
           .agg(F.sum("tpm").alias("abund_w_subtax")))
    return (sub.join(direct, ["sample", "node"], "left")
            .na.fill({"abund_direct": 0.0}))


def benchmark_ledger(bm_files: DataFrame, slurm_only: DataFrame,
                     sacct: DataFrame,
                     rule_re: str = r"benchmarks/([^/]+)/",
                     sample_re: str = r"([^/]+)\.txt$") -> DataFrame:
    """Post-production benchmark harvest (pypelib/post.py:763-935
    collect_benchmarks): per-rule benchmark TSV rows are path-parsed to
    (rule, sample), deduped to the NEWEST attempt per (rule, sample)
    (retries append; the ledger keeps the last), unioned with blank rows
    for slurm jobs that declared no benchmark file, and back-filled from a
    single sacct pull keyed by slurm job id — elapsed seconds, cpu time,
    max_rss (bytes → MB at 1/100 precision, the reference's rounding) and
    the end timestamp fill ONLY the blank rows, while the execution node
    from sacct OVERWRITES the local default whenever slurm knows it.

    Inputs: ``bm_files`` (path, timestamp, slurm_job, s, cpu_time,
    max_rss), ``slurm_only`` (rule, sample, slurm_job), ``sacct``
    (job_id, node, elapsed_s, total_cpu_s, mem_bytes, end_ts).

    Scale shape: path parse + newest-per-key are one shuffle on
    (rule, sample) — Spark 4 rewrites the row_number()<=1 window into a
    partial group-limit below the exchange — and sacct is a broadcast
    left join (one accounting row per job; dimension-sized by nature).
    """
    parsed = bm_files.select(
        F.regexp_extract("path", rule_re, 1).alias("rule"),
        F.regexp_extract("path", sample_re, 1).alias("sample"),
        "timestamp", "slurm_job", "s", "cpu_time", "max_rss")
    w = Window.partitionBy("rule", "sample").orderBy(
        F.col("timestamp").desc(), F.col("slurm_job").desc())
    newest = (parsed.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    blanks = slurm_only.select(
        "rule", "sample", F.lit(None).cast("long").alias("timestamp"),
        "slurm_job", F.lit(None).cast("double").alias("s"),
        F.lit(None).cast("double").alias("cpu_time"),
        F.lit(None).cast("double").alias("max_rss"))
    ledger = newest.unionByName(blanks)
    acct = F.broadcast(sacct.select(
        F.col("job_id").alias("slurm_job"), F.col("node").alias("_anode"),
        "elapsed_s", "total_cpu_s", "mem_bytes", "end_ts"))
    out = ledger.join(acct, "slurm_job", "left")
    return out.select(
        "rule", "sample", "slurm_job",
        F.coalesce("_anode", F.lit("localhost")).alias("node"),
        F.coalesce("timestamp", "end_ts").alias("timestamp"),
        F.coalesce("s", F.col("elapsed_s")).alias("s"),
        F.coalesce("cpu_time", F.col("total_cpu_s")).alias("cpu_time"),
        F.coalesce("max_rss",
                   F.round(F.col("mem_bytes") / 1048576.0, 2)).alias("max_rss"))


def checkout_delta(inventory: DataFrame, ledger: DataFrame,
                   commits: DataFrame) -> DataFrame:
    """Data-checkout delta with mtime-versioned lineage
    (pypelib/post.py:235-374 update_omics_checkout, the last
    post-production residue — VERDICT r7 missing #3): classify every
    inventoried output file against the existing checkout ledger and
    stamp NEW/updated files with the pipeline version in effect when the
    file was written.

    inventory : (path, rule, mtime) — one row per produced output file;
        a NULL mtime marks a stat failure (temp()'d or deleted output,
        the reference's `missing` counter).
    ledger : (relpath, old_mtime) — the existing checkout file.
    commits : (commit_ts, version) — the repository timeline
        (`git log --format=%cI %h` in the reference). METADATA-SCALE by
        contract: it is collected to the driver and folded into the row
        expression as a sorted literal array, so version assignment is
        row-local — the reference's `bisect` over the commit list
        re-expressed as `element_at(filter(...), -1)` with zero shuffle
        and no join fan-out (an as-of JOIN against a keyless timeline
        would either single-partition the union or fan out every file
        row across half the commit list).

    Returns (relpath, rule, mtime, version, status) with status ∈
    {new, no_change, regression, ignored, missing}; `new` rows carry the
    as-of version (null when the file predates every commit), matching
    the reference's appended checkout lines. The reference RAISES on a
    ledger mtime newer than the file ("maybe data loss"); the engine is
    declarative, so those rows surface as status='regression' for the
    caller to assert on — same detection, reporting instead of aborting.
    Stats (the reference's returned dict) = `groupBy("status").count()`.

    DELIBERATE DEPARTURE (ADVICE r8): a file OLDER than every commit gets
    version NULL here. The reference (pypelib/post.py:342) computes
    ``bisect`` idx=0 and indexes ``git_commits[idx-1]`` — Python's
    negative-index wraparound stamps the NEWEST commit on a file that
    predates the whole timeline, which reads as a bug, not a contract
    (a pre-history file cannot have been produced by the latest code).
    NULL states "no commit was in effect"; parity audits should expect
    this one divergence.
    """
    rows = sorted((r[0], r[1]) for r in commits.collect())
    lit_commits = F.array(*[
        F.struct(F.lit(int(ts)).alias("ts"), F.lit(v).alias("version"))
        for ts, v in rows]) if rows else F.array().cast(
            "array<struct<ts:bigint,version:string>>")
    inv = inventory.select(
        F.col("path"), F.col("rule"), F.col("mtime").cast("long").alias("mtime"))
    # no broadcast hint: the ledger is FILE-grain (same cardinality class
    # as the inventory, one row per previously checked-out file — r8
    # review), so the join strategy is left to AQE /
    # autoBroadcastJoinThreshold rather than forced driver collection
    led = ledger.select(
        F.col("relpath").alias("path"),
        F.col("old_mtime").cast("long").alias("_old"))
    j = inv.join(led, "path", "left")
    status = (
        F.when(~F.col("path").startswith("data/"), F.lit("ignored"))
        .when(F.col("mtime").isNull(), F.lit("missing"))
        .when(F.col("_old").isNotNull() & (F.col("mtime") == F.col("_old")),
              F.lit("no_change"))
        .when(F.col("_old").isNotNull() & (F.col("mtime") < F.col("_old")),
              F.lit("regression"))
        .otherwise(F.lit("new")))
    # try_element_at: a file older than every commit has an EMPTY filtered
    # list — its version is null, never an ANSI INVALID_ARRAY_INDEX
    version = F.try_element_at(
        F.filter(lit_commits, lambda c: c["ts"] <= F.col("mtime")),
        F.lit(-1))["version"]
    return (j.withColumn("status", status)
            .withColumn("version",
                        F.when(F.col("status") == "new", version))
            .select(F.col("path").alias("relpath"), "rule", "mtime",
                    "version", "status"))


def versions_ledger_current(rules: DataFrame, packages: DataFrame) -> DataFrame:
    """Current-state view of the pipeline versions ledger
    (pypelib/post.py:523-747 VersionInfoFile.get_current /
    update_versions_file — the run-ledger residue, the last reference
    query family without a named parity op): the reference keeps a
    versioned history of which conda/container env served which Snakefile
    rules with which installed packages, and ``get_current`` folds that
    history into "what is each env's rule set and package list NOW".

    rules : (pl_version, env_name, rule) — one row per rule an env served
        at a pipeline version (the reference's per-version ``rules`` sets).
    packages : (pl_version, env_name, package, pkg_version) — the
        installed-package snapshot the reference records per env per
        version it changed.

    Relational re-cast of the reference's imperative walk:
      * a rule's CURRENT env = the env of its LATEST assignment (struct-max
        over (pl_version, env_name)) — the reference's stated invariant
        "there can be only one (env per rule)". DELIBERATE DEPARTURE: the
        reference's subtract step (post.py:573
        ``rules.difference_update([i.rules for i in data.values()])``)
        passes a list of SETS to difference_update, which removes
        set-objects from a set of strings — a no-op, so reassigned rules
        are never actually released there; this implements the documented
        INTENT (latest assignment wins), not the latent bug.
      * an env's current packages = its snapshot at the latest version it
        appears in (struct-max again).
      * package CHURN = count of later snapshots whose sorted
        "pkg=ver" fingerprint differs from the previous appearance —
        the reference's ``vinfo.changed`` signal, aggregated per env.

    Output (env-grain): (env_name, latest_version, n_packages,
    n_current_rules, current_rules, pkg_changes). An env whose rules were
    all reassigned stays as a row with n_current_rules = 0 — the
    reference returns None ("not used anymore"); declarative engines
    report, callers filter. Everything is group-by/window over the
    version × env × (rule | package) grain — metadata-scale by nature,
    but shuffle-bounded either way."""
    cur_env = (rules.groupBy("rule")
               .agg(F.max(F.struct("pl_version", "env_name")).alias("_m"))
               .select("rule", F.col("_m.env_name").alias("env_name")))
    env_rules = (cur_env.groupBy("env_name")
                 .agg(F.count(F.lit(1)).alias("n_current_rules"),
                      F.array_join(F.sort_array(F.collect_list("rule")),
                                   ",").alias("current_rules")))
    snap = (packages.groupBy("env_name", "pl_version")
            .agg(F.count(F.lit(1)).alias("_n_pkgs"),
                 F.array_join(F.sort_array(F.collect_list(
                     F.concat_ws("=", "package", "pkg_version"))), "|")
                 .alias("_fp")))
    w = Window.partitionBy("env_name").orderBy("pl_version")
    churn = snap.withColumn(
        "_chg", F.when(F.lag("_fp").over(w).isNull(), F.lit(0))
        .when(F.lag("_fp").over(w) != F.col("_fp"), F.lit(1))
        .otherwise(F.lit(0)))
    env_state = (churn.groupBy("env_name")
                 .agg(F.max(F.struct(F.col("pl_version"),
                                     F.col("_n_pkgs"))).alias("_latest"),
                      F.sum("_chg").alias("pkg_changes"))
                 .select("env_name",
                         F.col("_latest.pl_version").alias("latest_version"),
                         F.col("_latest._n_pkgs").cast("bigint")
                         .alias("n_packages"),
                         F.col("pkg_changes").cast("bigint")
                         .alias("pkg_changes")))
    return (env_state.join(env_rules, "env_name", "left")
            .select("env_name", "latest_version", "n_packages",
                    F.coalesce(F.col("n_current_rules"), F.lit(0))
                    .cast("bigint").alias("n_current_rules"),
                    F.coalesce(F.col("current_rules"), F.lit(""))
                    .alias("current_rules"),
                    "pkg_changes"))
