"""The Layer-C warehouse build, end-to-end (SURVEY §1.3/§2.10/§3.3).

Composes the engine's pieces the way the reference composes postgres.Rmd:
StageDAG (control plane) + fixture-layout file scans (sources) + schema
registry (infer-then-pin) + Warehouse incremental MERGE (per-sample
anti-join) + derived views (bin_summary, kofam anvio MV) saved as tables.

Run it twice: the second run loads zero new rows (the reference's
idempotence contract, postgres.Rmd:246-248) and refreshes the MVs.

Each stage pays only for its write. `incremental_append` is one
partitioned parquet append. Its anti-join is a filter on the
`<key>=<value>` partition directories already under the table root (a
local-filesystem listing, see `sources.warehouse`), so a load spends no
Spark job on finding its loaded keys; a rerun with nothing new runs the
append over zero rows and writes no data file. The stage then hands the
table on as a lazy read with a known schema — the registry's pinned
contract for a base table, the written frame's schema for a view — so
the read-back infers nothing and runs no job (only `tax_info`, with more
partition directories than Spark's parallel-discovery threshold, pays
one listing job). Nothing is counted: every write logs the rows it wrote
as `rows` in `_load_ledger.jsonl` from a metric observed on the write
itself, and a table's total, where one is wanted, is read from its
parquet footers (`pyarrow.parquet.ParquetFile(...).metadata.num_rows`,
no Spark job), not from a `count()`. On perfbench's seeded inputs
(4-core box) a build runs 21 Spark jobs on a load and 16 on a no-op
rerun. The bracken stage loads only the long form
(`glamr.bracken_long`): the wide pivots of `merge_bracken` would each
run a distinct-values job for nothing, and the tpm stage attaches both
per-sample totals with one aggregate (`abundance.tpm_rpkm`). Views are
recomputed from base tables — the staleness contract is "as of last
build_warehouse run" (the reference's nightly cron analog).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from glamr_omics_pipelines_spark.pipelines import glamr
from glamr_omics_pipelines_spark.plans.dag import StageDAG
from glamr_omics_pipelines_spark.schema import SchemaRegistry
from glamr_omics_pipelines_spark.sources.warehouse import Warehouse


def build_dag(wh: Warehouse, registry: SchemaRegistry,
              bracken_glob: str, rpkm_glob: str, frames: dict) -> StageDAG:
    """``frames``: pre-built DataFrames for the warehouse families that the
    reference loads from R objects (tax_info, checkm, gtdb, drep,
    read_counts, read_mapping, uniref lookup+index)."""
    dag = StageDAG(ledger_path=f"{wh.root}/_run_ledger.jsonl")

    def ingest(spark, table: str, df, key: str = "sample"):
        wh.incremental_append(registry.conform(df, table), table, key)
        return wh.read(spark, table, registry.get(table))

    def refresh(spark, table: str, df):
        wh.save_view(df, table)
        return wh.read(spark, table, df.schema)

    @dag.stage("tax_info")
    def tax_info(spark, ctx):
        return ingest(spark, "tax_info", frames["tax_info"], key="tax_id")

    @dag.stage("bracken", deps=["tax_info"])
    def bracken(spark, ctx):
        return ingest(spark, "bracken_species",
                      glamr.bracken_long(spark, bracken_glob, ctx["tax_info"]))

    @dag.stage("gene_abundance")
    def gene_abundance(spark, ctx):
        return ingest(spark, "gene_abundance",
                      glamr.load_gene_abundance(spark, rpkm_glob))

    @dag.stage("read_count")
    def read_count(spark, ctx):
        return ingest(spark, "read_count",
                      glamr.read_ladder(frames["read_counts"]))

    @dag.stage("tpm")
    def tpm(spark, ctx):
        return ingest(spark, "tpm2",
                      glamr.tpm_chain(frames["read_mapping"],
                                      frames["uniref_lookup"],
                                      frames["uniref_index"]))

    # --- derived views (recomputed each run, like MV refresh) -------------
    @dag.stage("bin_summary_view")
    def bin_summary_view(spark, ctx):
        return refresh(spark, "bin_summary",
                       glamr.bin_summary(frames["checkm"], frames["gtdb"],
                                         frames["drep"]))

    @dag.stage("kofam_mv")
    def kofam_mv(spark, ctx):
        return refresh(spark, "kofam_scan_signif_anvio",
                       glamr.kofam_anvio(frames["kofam"]))

    return dag


def build_warehouse(spark: SparkSession, root: str, bracken_glob: str,
                    rpkm_glob: str, frames: dict) -> dict:
    wh = Warehouse(root)
    registry = SchemaRegistry(f"{root}/_schemas")
    dag = build_dag(wh, registry, bracken_glob, rpkm_glob, frames)
    return dag.run(spark)
