"""The Layer-C warehouse build, end-to-end (SURVEY §1.3/§2.10/§3.3).

Composes the engine's pieces the way the reference composes postgres.Rmd:
StageDAG (control plane) + fixture-layout file scans (sources) + schema
registry (infer-then-pin) + Warehouse incremental MERGE (per-sample
anti-join) + derived views (bin_summary, kofam anvio MV) saved as tables.

Run it twice: the second run loads zero new rows (the reference's
idempotence contract, postgres.Rmd:246-248) and does no work at all.

Every stage declares its inputs to the DAG (``plans.dag``): the upstream
stage, the files its glob lists, the in-memory frames it reads. A stage
whose inputs and output directory are as its last run left them is up to
date (Snakemake's rule): it scans and writes nothing and hands its table
on as the same lazy read a run returns. An up-to-date base-table stage
still logs a load with ``new_keys: 0`` and ``rows: 0``, so
`_load_ledger.jsonl` holds every base table in every build. The two
file-fed stages (`bracken`, `gene_abundance`) list their glob on the
driver and scan only the files whose ``{sample}`` is not yet a partition
directory of their table, so an incremental load reads only the new
samples' files. The globs, like the warehouse root, are local paths.

Each stage that runs pays only for its write, and a stage that does
not run builds, lists and plans nothing. The layout is declared once per
table, in `build_dag`: a table keyed by `sample` is partitioned by it;
`tax_info`, whose merge key is its primary key `tax_id`, is written
unpartitioned (one directory per taxon would be one file per row, and
its read-back would pay a parallel partition-listing job). For a
partitioned table `incremental_append` is one parquet append whose
anti-join is a filter on the `<key>=<value>` directories already under
the table root (a local-filesystem listing, see `sources.warehouse`), so
a load spends no Spark job on finding its loaded keys. For `tax_info` the
loaded keys are its key column, read from its parquet files with pyarrow,
and the anti-join is a null-safe left-anti join against that column: one
broadcast job more, paid only when the taxonomy frame changed. A stage
that runs with nothing new appends zero rows and leaves no new data
file. The stage then hands the table on as a lazy read with a pinned
schema — the registry's contract for a base table, and for a view the
schema its last refresh pinned — so the read-back infers and lists
nothing and runs no job, and an up-to-date view never builds its frame.
`SchemaRegistry.conform` hands a frame that already matches the
contract on as it is. Nothing is counted: every write logs the rows it
wrote as `rows` in `_load_ledger.jsonl` from a metric observed on the
write itself, and a table's total, where one is wanted, is read from its
parquet footers (`pyarrow.parquet.ParquetFile(...).metadata.num_rows`,
no Spark job), not from a `count()`. On perfbench's seeded inputs
(4-core box) a build runs 20 Spark jobs on the initial load, 19 on an
incremental load (`tax_info` is up to date) and 0 on a no-op rerun.
The bracken stage loads only the long form
(`glamr.bracken_long`): the wide pivots of `merge_bracken` would each
run a distinct-values job for nothing, and the tpm stage attaches both
per-sample totals with one aggregate (`abundance.tpm_rpkm`). Both views
are recomputed, in full, when their frames change, from the in-memory
`frames`, not from the warehouse's base tables: `bin_summary` from
checkm/gtdb/drep and the anvio MV from kofam.

Staleness contract: each table is as of the last `build_warehouse` run
whose inputs changed it. A frame is fingerprinted only when it is an
in-memory `LocalRelation` (`spark.createDataFrame` from pandas); a stage
reading any other frame (parquet, an RDD) runs on every build, as do the
stages downstream of it. A loaded sample is never reloaded: an edited file
or frame row of a sample already in a base table reruns its stage, which
appends nothing for that sample (the anti-join's contract). A change to a
stage's code is not a trigger; delete the table's directory to rebuild it.
A root whose `tax_info` is still partitioned by `tax_id` (written before
the dimension went unpartitioned) fails its next `tax_info` load with a
`ValueError`; deleting that directory rebuilds it. A view written before
views pinned their schema is refreshed once by its next build.
"""

from __future__ import annotations

import glob
import re

from pyspark.sql import SparkSession

from glamr_omics_pipelines_spark.pipelines import glamr
from glamr_omics_pipelines_spark.plans.dag import StageDAG
from glamr_omics_pipelines_spark.schema import SchemaRegistry
from glamr_omics_pipelines_spark.sources.readers import _pattern_regex
from glamr_omics_pipelines_spark.sources.warehouse import Warehouse


def _glob_files(pattern: str) -> list[str]:
    """The files a local glob matches; none is an error, as Spark's scan of
    an unmatched glob is."""
    files = sorted(glob.glob(pattern))
    if not files:
        raise FileNotFoundError(f"no input file matches {pattern}")
    return files


def build_dag(wh: Warehouse, registry: SchemaRegistry,
              bracken_glob: str, rpkm_glob: str, frames: dict) -> StageDAG:
    """``frames``: pre-built DataFrames for the warehouse families that the
    reference loads from R objects (tax_info, checkm, gtdb, drep,
    read_counts, read_mapping, uniref lookup+index)."""
    dag = StageDAG(ledger_path=f"{wh.root}/_run_ledger.jsonl")

    def ingest(name: str, table: str, make, key: str = "sample",
               partitioned: bool = True, **inputs):
        """A base-table stage: append the new keys of ``make(spark, ctx)``,
        in a table partitioned by ``key`` unless ``partitioned`` is off."""
        def run(spark, ctx):
            wh.incremental_append(registry.conform(make(spark, ctx), table),
                                  table, key, partitioned)
            return wh.read(spark, table, registry.get(table))

        def reuse(spark, ctx):
            wh.log_up_to_date(table, key)
            return wh.read(spark, table, registry.get(table))
        dag.stage(name, output=wh.path(table), reuse=reuse, **inputs)(run)

    def refresh(name: str, table: str, make, inputs: list):
        """A derived-view stage: rewrite ``table`` as ``make(*inputs)`` and
        pin its schema, which an up-to-date view is read back with."""
        def run(spark, ctx):
            df = make(*inputs)
            wh.save_view(df, table)
            registry.pin(table, df.schema)
            return wh.read(spark, table, df.schema)

        def reuse(spark, ctx):
            return wh.read(spark, table, registry.get(table))
        # a view written before views pinned their schema refreshes once
        dag.stage(name, frames=inputs, output=wh.path(table),
                  reuse=reuse if registry.has(table) else None)(run)

    def unloaded(files: list[str], pattern: str, table: str) -> list[str]:
        """``files`` minus those whose ``{sample}`` (``pattern``'s wildcard,
        the regex ``with_path_columns`` applies) is loaded in ``table``."""
        names, regex = _pattern_regex(pattern)
        group = names.index("sample") + 1
        loaded = wh.loaded_keys(table, "sample")

        def sample(path):
            m = re.search(regex, path)
            return m.group(group) if m else None
        return [f for f in files if sample(f) not in loaded]

    bracken_files = _glob_files(bracken_glob)
    rpkm_files = _glob_files(rpkm_glob)
    tpm_in = [frames[k] for k in
              ("read_mapping", "uniref_lookup", "uniref_index")]

    # the layout: every table is partitioned by its merge key `sample`
    # except the taxonomy dimension, whose merge key is its primary key
    ingest("tax_info", "tax_info", lambda spark, ctx: frames["tax_info"],
           key="tax_id", partitioned=False, frames=[frames["tax_info"]])
    ingest("bracken", "bracken_species", lambda spark, ctx: glamr.bracken_long(
        spark, unloaded(bracken_files, glamr.BRACKEN_PATTERN,
                        "bracken_species"), ctx["tax_info"]),
        deps=["tax_info"], files=bracken_files)
    ingest("gene_abundance", "gene_abundance",
           lambda spark, ctx: glamr.load_gene_abundance(
               spark, unloaded(rpkm_files, glamr.RPKM_PATTERN,
                               "gene_abundance")),
           files=rpkm_files)
    ingest("read_count", "read_count",
           lambda spark, ctx: glamr.read_ladder(frames["read_counts"]),
           frames=[frames["read_counts"]])
    ingest("tpm", "tpm2", lambda spark, ctx: glamr.tpm_chain(*tpm_in),
           frames=tpm_in)
    # --- derived views (recomputed when their frames change, MV refresh) --
    refresh("bin_summary_view", "bin_summary", glamr.bin_summary,
            [frames[k] for k in ("checkm", "gtdb", "drep")])
    refresh("kofam_mv", "kofam_scan_signif_anvio", glamr.kofam_anvio,
            [frames["kofam"]])
    return dag


def build_warehouse(spark: SparkSession, root: str, bracken_glob: str,
                    rpkm_glob: str, frames: dict) -> dict:
    wh = Warehouse(root)
    registry = SchemaRegistry(f"{root}/_schemas")
    dag = build_dag(wh, registry, bracken_glob, rpkm_glob, frames)
    return dag.run(spark)
