"""Source/sink tests: FASTQ/FASTA readers, path-derived columns, warehouse
incremental merge, schema registry, streaming ingest."""

import gzip
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, StringType, StructField, StructType)

from glamr_omics_pipelines_spark.schema import SchemaRegistry
from glamr_omics_pipelines_spark.sources import readers, sequences
from glamr_omics_pipelines_spark.sources.warehouse import Warehouse

FASTQ = "@r1\nACGT\n+\nIIII\n@r2\nGGCC\n+\nIII!\n"
FASTA = ">contig_1 len=8\nACGTACGT\n>contig_2 len=4\nGG\nCC\n"


def test_read_fastq_gz(spark, tmp_path):
    p = tmp_path / "reads.fastq.gz"
    with gzip.open(p, "wt") as fh:
        fh.write(FASTQ)
    df = sequences.read_fastq(spark, str(p))
    rows = {r["read_id"]: r["seq"] for r in df.collect()}
    assert rows == {"r1": "ACGT", "r2": "GGCC"}


def test_read_fastq_pairs(spark, tmp_path):
    fwd, rev = tmp_path / "f.fastq", tmp_path / "r.fastq"
    fwd.write_text(FASTQ)
    rev.write_text(FASTQ.replace("ACGT", "TTTT"))
    df = sequences.read_fastq_pairs(spark, str(fwd), str(rev))
    assert df.count() == 2
    row = df.filter(F.col("fwd_id") == "r1").collect()[0]
    assert row["fwd_seq"] == "ACGT" and row["rev_seq"] == "TTTT"


def test_path_metadata_columns_flow_through_glob_scan(spark, tmp_path):
    """S4 tail: file mtime/size surface as columns (postgres.Rmd:240-243)."""
    mtimes = {"samp_1": 1_600_000_000, "samp_2": 1_650_000_000}
    for sample, mt in mtimes.items():
        d = tmp_path / "omics" / "metagenomes" / sample
        d.mkdir(parents=True)
        p = d / "bracken_gtdb.tsv"
        p.write_text("tax_id\tcount\n1\t10\n")
        os.utime(p, (mt, mt))
    schema = StructType([StructField("tax_id", IntegerType()),
                         StructField("count", IntegerType())])
    df = readers.read_typed_csv(
        spark, str(tmp_path / "omics" / "*" / "*" / "bracken_*.tsv"),
        schema=schema)
    df = readers.with_path_columns(
        df, "omics/{sample_type}/{sample}/bracken_{database}.tsv",
        file_metadata=True)
    rows = {r["sample"]: r for r in df.collect()}
    assert int(rows["samp_1"]["file_mtime"].timestamp()) == 1_600_000_000
    assert int(rows["samp_2"]["file_mtime"].timestamp()) == 1_650_000_000
    assert rows["samp_1"]["file_size"] == os.path.getsize(
        tmp_path / "omics" / "metagenomes" / "samp_1" / "bracken_gtdb.tsv")


def test_list_files_and_standardize_bins(spark, tmp_path):
    """standardize_bins.R:92-99: bins renumbered by create_time order."""
    from glamr_omics_pipelines_spark.pipelines.glamr import standardize_bins

    # deliberately write in name order OPPOSITE to mtime order
    plan = [("metabat", "b1.fa", 3_000), ("concoct", "a9.fa", 1_000),
            ("maxbin", "m5.fa", 2_000)]
    base = 1_600_000_000
    for binner, name, offset in plan:
        d = tmp_path / "bins" / "samp_1" / binner
        d.mkdir(parents=True, exist_ok=True)
        p = d / name
        p.write_text(">c1\nACGT\n")
        os.utime(p, (base + offset, base + offset))
    inv = readers.list_files(
        spark, str(tmp_path / "bins" / "*" / "*" / "*.fa"),
        pattern="bins/{sample}/{binner}/{bin_file}")
    assert inv.schema["file_mtime"].dataType.typeName().startswith("timestamp")
    out = standardize_bins(inv).select("binner", "bin_num", "new_bin_name")
    got = {r["binner"]: (r["bin_num"], r["new_bin_name"])
           for r in out.collect()}
    # mtime order: concoct (+1000) < maxbin (+2000) < metabat (+3000)
    assert got == {"concoct": (1, "samp_1_concoct_1"),
                   "maxbin": (2, "samp_1_maxbin_2"),
                   "metabat": (3, "samp_1_metabat_3")}


def test_read_fastq_pairs_id_agreement(spark, tmp_path):
    """Mis-paired files are diagnosed, not silently zipped (raw_reads.py:271-338)."""
    import pytest

    fwd, rev = tmp_path / "f.fastq", tmp_path / "r.fastq"
    fwd.write_text("@a/1\nACGT\n+\nIIII\n@b/1\nGGCC\n+\nIIII\n")
    rev.write_text("@a/2\nTTTT\n+\nIIII\n@c/2\nCCCC\n+\nIIII\n")
    df = sequences.read_fastq_pairs(spark, str(fwd), str(rev))
    got = {r["fwd_id"]: r["id_match"] for r in df.collect()}
    assert got == {"a/1": True, "b/1": False}
    with pytest.raises(ValueError, match="id mismatch"):
        sequences.read_fastq_pairs(spark, str(fwd), str(rev), id_check="strict")
    # Casava-style space-separated comments agree on the id token
    fwd2, rev2 = tmp_path / "f2.fastq", tmp_path / "r2.fastq"
    fwd2.write_text("@a 1:N:0:ACGT\nACGT\n+\nIIII\n")
    rev2.write_text("@a 2:N:0:ACGT\nTTTT\n+\nIIII\n")
    df2 = sequences.read_fastq_pairs(spark, str(fwd2), str(rev2),
                                     id_check="strict")
    assert df2.count() == 1


def test_read_fasta_plan_is_jvm_only(spark, tmp_path):
    """S2 scan path: no Python eval anywhere in the FASTA plan (100 TB path)."""
    p = tmp_path / "contigs.fasta"
    p.write_text(FASTA)
    plan = (sequences.read_fasta(spark, str(p))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_read_fasta_multiline(spark, tmp_path):
    p = tmp_path / "contigs.fasta"
    p.write_text(FASTA)
    df = sequences.read_fasta(spark, str(p))
    rows = {r["header"]: r["seq"] for r in df.collect()}
    assert rows == {"contig_1 len=8": "ACGTACGT", "contig_2 len=4": "GGCC"}


def test_glob_tsv_with_path_columns(spark, tmp_path):
    for sample in ["samp_1", "samp_2"]:
        d = tmp_path / "omics" / "metagenomes" / sample
        d.mkdir(parents=True)
        (d / "bracken_gtdb.tsv").write_text("tax_id\tcount\n1\t10\n2\t20\n")
    schema = StructType([StructField("tax_id", IntegerType()),
                         StructField("count", IntegerType())])
    df = readers.read_glob_tsv(
        spark, str(tmp_path / "omics" / "*" / "*" / "bracken_*.tsv"),
        pattern="omics/{sample_type}/{sample}/bracken_{database}.tsv",
        schema=schema)
    rows = df.collect()
    assert len(rows) == 4
    assert {r["sample"] for r in rows} == {"samp_1", "samp_2"}
    assert {r["database"] for r in rows} == {"gtdb"}
    assert {r["sample_type"] for r in rows} == {"metagenomes"}


def test_warehouse_incremental_append_is_idempotent(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df1 = spark.createDataFrame([("s1", 1), ("s2", 2)], ["sample", "v"])
    assert wh.incremental_append(df1, "t", "sample") == 2
    # re-load same samples + one new -> only the new one lands
    df2 = spark.createDataFrame([("s1", 99), ("s3", 3)], ["sample", "v"])
    assert wh.incremental_append(df2, "t", "sample") == 1
    out = wh.read(spark, "t", df1.schema)
    assert out.count() == 3
    assert out.filter(F.col("sample") == "s1").collect()[0]["v"] == 1  # not 99


def test_schema_registry_pins_and_conforms(spark, tmp_path):
    reg = SchemaRegistry(str(tmp_path / "schemas"))
    df = spark.createDataFrame([("a", 1)], ["s", "v"])
    reg.conform(df, "t")  # pins
    # later load arrives with long v and extra col -> cast + prune
    df2 = spark.createDataFrame([("b", 2, "x")], ["s", "v", "extra"])
    out = reg.conform(df2, "t")
    assert out.columns == ["s", "v"]
    assert [f.dataType for f in out.schema.fields] == \
           [f.dataType for f in df.schema.fields]


def test_schema_registry_passes_a_conforming_frame_through(spark, tmp_path):
    reg = SchemaRegistry(str(tmp_path / "schemas"))
    reg.conform(spark.createDataFrame([("a", 1)], ["s", "v"]), "t")
    same = spark.createDataFrame([("b", 2)], ["s", "v"])
    assert reg.conform(same, "t") is same
    # reordered columns are still projected into the pinned order
    flipped = spark.createDataFrame([(3, "c")], ["v", "s"])
    out = reg.conform(flipped, "t")
    assert out is not flipped and out.columns == ["s", "v"]
    assert tuple(out.collect()[0]) == ("c", 3)


def test_schema_registry_missing_column_raises(spark, tmp_path):
    reg = SchemaRegistry(str(tmp_path / "schemas"))
    reg.conform(spark.createDataFrame([("a", 1)], ["s", "v"]), "t")
    import pytest
    with pytest.raises(ValueError, match="missing"):
        reg.conform(spark.createDataFrame([("a",)], ["s"]), "t")


def test_file_stream_ingest_available_now(spark, tmp_path):
    from glamr_omics_pipelines_spark.streaming.ingest import file_stream_ingest
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "batch1.tsv").write_text("sample\tv\ns1\t1\ns2\t2\n")
    schema = StructType([StructField("sample", StringType()),
                         StructField("v", IntegerType())])
    dest, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    file_stream_ingest(spark, str(src), "csv", schema, dest, ckpt)
    assert spark.read.parquet(dest).count() == 2
    # second batch: only new file is processed (checkpointed discovery)
    (src / "batch2.tsv").write_text("sample\tv\ns3\t3\n")
    file_stream_ingest(spark, str(src), "csv", schema, dest, ckpt)
    out = spark.read.parquet(dest)
    assert out.count() == 3
    assert out.filter(F.col("sample") == "s3").count() == 1


def test_glamr_schema_contracts_importable(spark):
    from glamr_omics_pipelines_spark.schemas_glamr import GLAMR_SCHEMAS
    assert len(GLAMR_SCHEMAS) >= 14
    for name, st in GLAMR_SCHEMAS.items():
        assert st.fields, name
    # a contract actually usable as a read schema
    df = spark.createDataFrame([], GLAMR_SCHEMAS["bracken"])
    assert df.schema["count_w_subtax"].dataType.typeName() == "long"


def test_read_fastq_crlf_and_trailing_blank_line(spark, tmp_path):
    """CRLF line endings must not leak '\r' into seq/qual (off-by-one
    lengths, bogus Phred decode), and a trailing blank line must not emit
    a phantom empty record — both paths (mapInPandas reader and the
    Python DataSource) must agree with the LF form."""
    crlf = FASTQ.replace("\n", "\r\n") + "\r\n"   # CRLF + trailing blank
    p = tmp_path / "crlf.fastq"
    p.write_bytes(crlf.encode())
    rows = {r["read_id"]: r["seq"] for r in
            sequences.read_fastq(spark, str(p)).collect()}
    assert rows == {"r1": "ACGT", "r2": "GGCC"}  # no '\r', no phantom row

    from glamr_omics_pipelines_spark.sources.datasource import (
        register_sequence_sources)
    register_sequence_sources(spark)
    ds = {r["read_id"]: r["seq"] for r in
          spark.read.format("fastq").load(str(p)).collect()}
    assert ds == rows
