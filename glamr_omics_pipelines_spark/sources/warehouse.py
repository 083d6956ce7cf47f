"""Parquet warehouse with incremental per-sample MERGE semantics (S8, §2.10).

Reference semantics: every loader in postgres.Rmd discovers result files,
anti-joins against the samples already in the table, and appends
(postgres.Rmd:239-292 and ~30 siblings). Idempotence comes from the sample-ID
anti-join, not from exactly-once sinks. B-tree indexes are dropped around
bulk loads and rebuilt (postgres.Rmd:414-432).

Spark-first: append-only Parquet partitioned by the merge key. Because the
key IS the partition column, the loaded keys are the ``<key>=<value>``
directory names under the table root, so the anti-join reads a directory
listing and never the data (the purpose the reference's recursive-CTE loose
index scan serves, postgres.Rmd:22-37). The listed values become a typed
``isin`` filter on the incoming frame, and the append is the one Spark job
of a load: no key scan, no broadcast, no count. The new keys are the
listing after the write minus the listing before it. Index drop/rebuild
disappears entirely. A ledger records every load batch for audit
(pypelib/post.py checkout-file analog): each append and view refresh logs
the rows it wrote as ``rows``, counted by an ``Observation`` on the write
itself (0 on a no-op rerun), never by a second pass over the table.

``read`` takes the table's schema (the pinned contract of a base table,
the written frame's schema for a view): Spark then infers nothing from
the files, so the read runs no job, and a partition key keeps its type
instead of one guessed from its directory names (``"007"`` would read
back as the int 7, a long ``tax_id`` as an int).

Listing rules, mirroring how Spark names partition directories:
  - values are unescaped the way Spark escapes them (``%XX`` for ``:``,
    ``%``, ``/``, ``=`` and the other path-unsafe characters);
  - ``__HIVE_DEFAULT_PARTITION__`` holds the null key (and the empty
    string, which Spark writes there too). It means "null already loaded"
    and is matched null-safely, never cast to the key type (an ANSI cast
    error for an integer key);
  - the root is a local filesystem path, as for the ledger this class
    writes with ``os.makedirs``/``open``. An object-store root would need
    the listing to go through the Hadoop FileSystem instead.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _unescape(name: str) -> str:
    """Invert Spark's partition-path escaping (``ExternalCatalogUtils``),
    which writes each path-unsafe character as ``%`` plus two hex digits."""
    return re.sub(r"%([0-9A-Fa-f]{2})",
                  lambda m: chr(int(m.group(1), 16)), name)


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count observed by the action that consumes it:
    read ``obs.get["rows"]`` after the write, no extra job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class Warehouse:
    """Directory-backed Parquet warehouse with (table, sample)-keyed
    incremental loads and a JSON-lines load ledger."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.ledger_path = os.path.join(root, "_load_ledger.jsonl")

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def read(self, spark: SparkSession, table: str,
             schema: StructType) -> DataFrame:
        """Read ``table`` as ``schema``: no schema-inference job, and the
        partition key takes its type from ``schema``, never from its
        directory names (a string key ``"007"`` stays ``"007"``)."""
        return spark.read.schema(schema).parquet(self.path(table))

    def incremental_append(self, df: DataFrame, table: str, key: str) -> int:
        """Anti-join-then-append: load only rows whose ``key`` value is not
        yet present (postgres.Rmd:246-248 semantics). Returns #new keys.

        One Spark job: the append itself, which also counts the rows it
        writes into the ledger. A rerun that brings no new key runs that
        job over zero rows and writes no data file."""
        before = self._listed_keys(table, key)
        fresh = df
        if before:
            col = F.col(key)
            dtype = df.schema[key].dataType
            text = isinstance(dtype, StringType)
            values = [v if text else F.lit(v).cast(dtype)
                      for v in before if v is not None]
            loaded = col.isin(values) if values else F.lit(False)
            if None in before:
                loaded = col.isNull() | loaded
                if text:
                    loaded = loaded | (col == "")
            # a null key is "not loaded" unless the default partition exists
            fresh = df.filter(~F.coalesce(loaded, F.lit(False)))
        fresh, obs = _counted(fresh)
        (fresh.write.mode("append").partitionBy(key)
         .parquet(self.path(table)))
        new_keys = len(self._listed_keys(table, key) - before)
        self._log(table=table, key=key, new_keys=new_keys,
                  rows=obs.get["rows"])
        return new_keys

    def log_up_to_date(self, table: str, key: str) -> None:
        """The ledger row of a load skipped because its inputs did not
        change: no key is new and no row was written."""
        self._log(table=table, key=key, new_keys=0, rows=0)

    def _listed_keys(self, table: str, key: str) -> set[str | None]:
        """The loaded values of partition column ``key``, from the table's
        directory names; ``None`` stands for the default (null) partition."""
        if not self.exists(table):
            return set()
        prefix = f"{key}="
        out: set[str | None] = set()
        with os.scandir(self.path(table)) as entries:
            for entry in entries:
                if entry.is_dir() and entry.name.startswith(prefix):
                    value = entry.name[len(prefix):]
                    out.add(None if value == DEFAULT_PARTITION
                            else _unescape(value))
        return out

    def save_bucketed(self, df: DataFrame, table: str, key: str,
                      buckets: int = 16) -> None:
        """Bucketed table write — the engine's replacement for the reference's
        per-column B-tree secondary indexes (postgres.Rmd:430-432 etc.).

        Joins/aggregations between tables bucketed on the same key by the
        same bucket count need NO shuffle exchange (verified in
        tests/test_bucketing.py). Use for the repeatedly-joined fact pairs:
        read_mapping ⨝ uniref dim on target id, contig_abund ⨝ lca on contig.
        """
        (df.write.mode("overwrite").format("parquet")
         .bucketBy(buckets, key).sortBy(key)
         .option("path", self.path(table))
         .saveAsTable(table))
        self._log(table=table, key=key, mode="bucketed", buckets=buckets)

    def save_view(self, df: DataFrame, table: str) -> None:
        """Materialized-view analog: full rewrite of a derived table
        (kofam_scan_signif_anvio MV refresh, postgres.Rmd:1456-1532).
        The write counts its rows into the ledger."""
        df, obs = _counted(df)
        df.write.mode("overwrite").parquet(self.path(table))
        self._log(table=table, mode="refresh_view", rows=obs.get["rows"])

    def _log(self, **kw) -> None:
        kw["ts"] = time.time()
        with open(self.ledger_path, "a") as fh:
            fh.write(json.dumps(kw) + "\n")


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  compare_cols: list[str]) -> DataFrame:
    """Snapshot delta: classify every key across two table versions as
    added / removed / changed / unchanged. The audit form of the reference's
    import-status tracking (code/check_import_status.R, update_output_status.R
    exists-flags) generalized to content: a warehouse refresh job diffs the
    incoming snapshot against the loaded one to decide what to MERGE and
    what to report.

    Content equality goes through ONE md5 over the compare columns computed
    on each side BEFORE the join — the full-outer join then carries keys +
    32-byte hashes, never wide rows, and the classify step is row-local.
    Values are encoded 'v:<value>' / 'null' and joined with a NUL separator
    (the same NULL-safe marked encoding exact_dedup uses, dedup.py) so NULL
    vs empty-string and column-boundary shifts cannot collide. At scale
    this is a sort-merge join on the key: O(n log n) partition-local sorts,
    no broadcast needed on either side.
    """
    def hashed(df: DataFrame, alias: str) -> DataFrame:
        marked = [F.coalesce(F.concat(F.lit("v:"), F.col(c).cast("string")),
                             F.lit("null")) for c in compare_cols]
        h = F.md5(F.concat_ws(chr(0), *marked))
        return df.select(*keys, h.alias(alias))

    o = hashed(old, "_h_old")
    n = hashed(new, "_h_new")
    joined = o.join(n, keys, "full_outer")
    status = (F.when(F.col("_h_old").isNull(), "added")
              .when(F.col("_h_new").isNull(), "removed")
              .when(F.col("_h_old") != F.col("_h_new"), "changed")
              .otherwise("unchanged"))
    return joined.withColumn("status", status).drop("_h_old", "_h_new")


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Column-profile audit: per column, null count, exact distinct count,
    min and max (stringified AFTER typed comparison). The warehouse-health
    scan behind the reference's import-status auditing
    (code/check_import_status.R, update_output_status.R) — run it on every
    incremental load to catch schema drift, null storms, and key collapse.

    ONE scan: all per-column aggregates run in a single agg (multi-distinct
    expands via Catalyst's Expand — acceptable to a few dozen columns;
    swap countDistinct for approx_count_distinct at wider/steeper scale),
    then a stack() unpivot to (column, stat...) rows — output is
    O(columns), never data-sized.
    """
    aggs = []
    for c in cols:
        aggs += [F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                 F.countDistinct(c).alias(f"{c}__distinct"),
                 F.min(c).cast("string").alias(f"{c}__min"),
                 F.max(c).cast("string").alias(f"{c}__max")]
    one = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {parts}) as "
        "(column, n_nulls, n_distinct, min_val, max_val)")


def agg_snapshot(df: DataFrame, group_cols: list[str],
                 value_col: str) -> DataFrame:
    """Mergeable aggregate state per group: (n, sum, min, max) — the
    partial-aggregation algebra materialized as a table. The incremental-
    refresh pattern for warehouse rollups: snapshot each ingest batch once,
    and refreshing the rollup MERGES snapshots (associative + commutative)
    instead of re-scanning all history — the aggregate analog of
    Warehouse.incremental_append, and the same idea the HLL sketch column
    (operators/sketches.py) applies to count-distinct.

    Derived statistics (mean = sum/n) are computed at READ time from merged
    state, never stored — storing them would break mergeability.
    """
    return (df.groupBy(*group_cols)
            .agg(F.count(value_col).alias("agg_n"),
                 F.sum(value_col).alias("agg_sum"),
                 F.min(value_col).alias("agg_min"),
                 F.max(value_col).alias("agg_max")))


def merge_agg_snapshots(*snapshots: DataFrame) -> DataFrame:
    """Merge any number of agg_snapshot frames (e.g. one per ingested
    batch/day) into the combined state — a union + one re-aggregation of
    SNAPSHOT-grain rows (groups × batches, never fact-grain)."""
    if not snapshots:
        raise ValueError("merge_agg_snapshots needs at least one snapshot")
    u = snapshots[0]
    for s in snapshots[1:]:
        u = u.unionByName(s)
    group_cols = [c for c in u.columns
                  if c not in ("agg_n", "agg_sum", "agg_min", "agg_max")]
    return (u.groupBy(*group_cols)
            .agg(F.sum("agg_n").alias("agg_n"),
                 F.sum("agg_sum").alias("agg_sum"),
                 F.min("agg_min").alias("agg_min"),
                 F.max("agg_max").alias("agg_max")))
