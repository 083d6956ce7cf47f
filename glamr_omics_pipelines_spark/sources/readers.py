"""Typed tabular readers with path-derived columns (SURVEY S3/S4/S6).

Reference semantics:
  - typed TSV scan: read_tsv(col_names=, col_types=, skip=, comment='#')
    (postgres.Rmd:385-391,661-670,1191; code/tax_abund_from_contigs.R:58-60)
  - glob discovery + unglue path parsing into sample/sample_type columns
    (postgres.Rmd:240-243,301-303,374-376,695-699; code/merge_bracken.R:39-44)
  - JSON runinfo (pypelib/raw_reads.py:101-133)

Spark-first: the glob + per-file loop becomes ONE multi-file scan;
``input_file_name()`` + regexp_extract derive the wildcard columns, so file
identity flows through the plan instead of a driver-side loop. At 100 TB the
file listing itself is driver work — partition-style directory layouts
(data/omics/{sample_type}/{sample}/...) map to Hive-partitioned reads where
the path columns come from partition pruning, free of regexp entirely.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_typed_csv(spark: SparkSession, paths, schema: StructType | None = None,
                   sep: str = "\t", header: bool = True, comment: str | None = None,
                   skip_rows: int = 0) -> DataFrame:
    """Typed TSV/CSV scan. Schema pinned up-front (never inferSchema in
    production — schema inference is a full extra pass over 100 TB)."""
    reader = (spark.read.option("sep", sep).option("header", header)
              .option("mode", "PERMISSIVE"))
    if comment:
        reader = reader.option("comment", comment)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(paths)
    if skip_rows:
        # CSV has no skipRows option pre-4.x for multi-file; emulate via
        # monotonically-increasing filter per file only when needed.
        raise NotImplementedError("use comment= or preprocess for skip rows")
    return df


def _pattern_regex(pattern: str) -> tuple[list[str], str]:
    """{name}-wildcard pattern → (names, extraction regex), one group per
    wildcard. Shared by with_path_columns and list_files so the wildcard
    semantics cannot drift between the two scan paths."""
    names = re.findall(r"\{(\w+)\}", pattern)
    regex = re.escape(pattern)
    for n in names:
        regex = regex.replace(re.escape("{%s}" % n), r"([^/]+)")
    return names, regex


def with_path_columns(df: DataFrame, pattern: str,
                      path_col_name: str = "_path",
                      file_metadata: bool = False) -> DataFrame:
    """Extract wildcard columns from the source file path (S4, unglue-style).

    ``pattern`` uses {name} wildcards, e.g.
    ``data/omics/{sample_type}/{sample}/bracken_{database}.tsv``.
    Each {name} becomes a column via regexp_extract(input_file_name()).

    ``file_metadata=True`` additionally surfaces ``file_mtime`` (timestamp)
    and ``file_size`` (bytes) from the scan's hidden ``_metadata`` struct —
    the reference joins file mtimes into its loaders (postgres.Rmd:240-243)
    and orders bin inventories by create_time (standardize_bins.R:94).
    Requires ``df`` to be a direct file-source scan (parquet/csv/json/text).
    """
    names, regex = _pattern_regex(pattern)
    out = df.withColumn(path_col_name, F.input_file_name())
    for i, n in enumerate(names, start=1):
        out = out.withColumn(n, F.regexp_extract(path_col_name, regex, i))
    if file_metadata:
        out = (out
               .withColumn("file_mtime",
                           F.col("_metadata.file_modification_time"))
               .withColumn("file_size", F.col("_metadata.file_size")))
    return out.drop(path_col_name)


def list_files(spark: SparkSession, glob: str,
               pattern: str | None = None) -> DataFrame:
    """File-inventory scan (S4): DataFrame(path, file_mtime, file_size) for a
    glob, plus {name} wildcard columns when ``pattern`` is given — the Spark
    replacement for the reference's Sys.glob + file.mtime data.frame
    (standardize_bins.R:83-94, postgres.Rmd:240-243).

    Uses the binaryFile datasource WITHOUT selecting ``content``: column
    pruning keeps the scan listing-only (no file bytes are read), and the
    listing distributes across executors — no driver-side glob loop.
    """
    df = (spark.read.format("binaryFile").load(glob)
          .select("path",
                  F.col("modificationTime").alias("file_mtime"),
                  F.col("length").alias("file_size")))
    if pattern:
        names, regex = _pattern_regex(pattern)
        for i, n in enumerate(names, start=1):
            df = df.withColumn(n, F.regexp_extract("path", regex, i))
    return df


def read_glob_tsv(spark: SparkSession, glob: str, pattern: str,
                  schema: StructType | None = None, sep: str = "\t",
                  header: bool = True) -> DataFrame:
    """One multi-file scan over a glob, with path-derived columns — the Spark
    replacement for the reference's Sys.glob + per-file read_tsv + bind_rows
    loop (merge_bracken.R:39-58)."""
    df = read_typed_csv(spark, glob, schema=schema, sep=sep, header=header)
    return with_path_columns(df, pattern)


def read_json_records(spark: SparkSession, paths, schema: StructType | None = None,
                      multiline: bool = False) -> DataFrame:
    """JSON source (S6): runinfo / hmm summaries / target_info."""
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def read_xml_elements(spark: SparkSession, path: str, row_tag: str) -> DataFrame:
    """XML source (S7, pypelib/sra.py:28-75 SRA metadata).

    Spark 4 ships native XML: spark.read.format('xml'). Falls back to a
    driver-side ElementTree parse for tiny metadata files if the built-in
    format is unavailable.
    """
    from pyspark.errors import AnalysisException
    try:
        return spark.read.format("xml").option("rowTag", row_tag).load(path)
    except AnalysisException:  # format unavailable only — the native load
        # is lazy, so real parse errors surface at action time, not here
        import xml.etree.ElementTree as ET
        rows = []
        for elem in ET.parse(path).getroot().iter(row_tag):
            rows.append({c.tag: (c.text or "") for c in elem})
        return spark.createDataFrame(rows)
