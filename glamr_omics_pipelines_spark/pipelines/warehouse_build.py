"""The Layer-C warehouse build, end-to-end (SURVEY §1.3/§2.10/§3.3).

Composes the engine's pieces the way the reference composes postgres.Rmd:
StageDAG (control plane) + fixture-layout file scans (sources) + schema
registry (infer-then-pin) + Warehouse incremental MERGE (per-sample
anti-join) + derived views (bin_summary, kofam anvio MV) saved as tables.

Run it twice: the second run loads zero new rows (the reference's
idempotence contract, postgres.Rmd:246-248) and refreshes the MVs.

Each `incremental_append` is one partitioned parquet append. Its anti-join
is a filter on the `<key>=<value>` partition directories already under the
table root (a local-filesystem listing, see `sources.warehouse`), so a
load spends no Spark job on finding its loaded keys; a rerun with nothing
new runs the append over zero rows and writes no data file. The bracken
stage loads only the long form (`glamr.bracken_long`): the wide pivots of
`merge_bracken` would each run a distinct-values job for nothing. Views
are recomputed from base tables — the staleness contract is "as of last
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

    def ingest(table: str, df, key: str = "sample") -> int:
        conformed = registry.conform(df, table)
        return wh.incremental_append(conformed, table, key)

    @dag.stage("tax_info")
    def tax_info(spark, ctx):
        ingest("tax_info", frames["tax_info"], key="tax_id")
        return wh.read(spark, "tax_info")

    @dag.stage("bracken", deps=["tax_info"], materialize=True)
    def bracken(spark, ctx):
        ingest("bracken_species",
               glamr.bracken_long(spark, bracken_glob, ctx["tax_info"]))
        return wh.read(spark, "bracken_species")

    @dag.stage("gene_abundance", materialize=True)
    def gene_abundance(spark, ctx):
        genes = glamr.load_gene_abundance(spark, rpkm_glob)
        ingest("gene_abundance", genes)
        return wh.read(spark, "gene_abundance")

    @dag.stage("read_count", materialize=True)
    def read_count(spark, ctx):
        ladder = glamr.read_ladder(frames["read_counts"])
        ingest("read_count", ladder)
        return wh.read(spark, "read_count")

    @dag.stage("tpm", materialize=True)
    def tpm(spark, ctx):
        out = glamr.tpm_chain(frames["read_mapping"], frames["uniref_lookup"],
                              frames["uniref_index"])
        ingest("tpm2", out)
        return wh.read(spark, "tpm2")

    # --- derived views (recomputed each run, like MV refresh) -------------
    @dag.stage("bin_summary_view", materialize=True)
    def bin_summary_view(spark, ctx):
        wh.save_view(glamr.bin_summary(frames["checkm"], frames["gtdb"],
                                       frames["drep"]), "bin_summary")
        return wh.read(spark, "bin_summary")

    @dag.stage("kofam_mv", materialize=True)
    def kofam_mv(spark, ctx):
        wh.save_view(glamr.kofam_anvio(frames["kofam"]),
                     "kofam_scan_signif_anvio")
        return wh.read(spark, "kofam_scan_signif_anvio")

    return dag


def build_warehouse(spark: SparkSession, root: str, bracken_glob: str,
                    rpkm_glob: str, frames: dict) -> dict:
    wh = Warehouse(root)
    registry = SchemaRegistry(f"{root}/_schemas")
    dag = build_dag(wh, registry, bracken_glob, rpkm_glob, frames)
    return dag.run(spark)
