"""Window-function operator family (SURVEY §2.5 W1-W6).

Reference semantics reproduced:
  - W1 top-1 per group: ``slice_min(evalue, n=1, with_ties=FALSE)``
    (code/summarize_hmmscan.R:58-62; postgres.Rmd:351-353)
  - W1 tie-discarding variant: a winner only counts when it is strictly unique
    (pypelib/amplicon/hmm_summarize.py:125-153)
  - W2 anvio stacked ranked filter (postgres.Rmd:1418-1432 dplyr ==
    postgres.Rmd:1455-1532 generated SQL) — three stacked window layers
  - W3 lag-based retention ladder (postgres.Rmd:270-280)
  - W6 global sequential renumbering (code/standardize_bins.R:94-97)

Scale notes: every helper partitions its window by the group key — never a
global window except ``sequential_ids`` which documents its single-partition
constraint explicitly (same constraint the reference has: a global ordering
is inherently serial).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def epoch_us(col) -> "F.Column":
    """Epoch microseconds of a timestamp-like column, tolerant of
    TIMESTAMP_NTZ (parquet writers flip between the two; unix_micros only
    accepts TIMESTAMP).

    REQUIRES a UTC session timezone (``spark.sql.session.timeZone=UTC``, set
    by the library's ``get_spark``): the NTZ→TIMESTAMP cast reinterprets the
    wall-clock under the session tz, so only UTC makes it value-preserving
    and injective (non-UTC zones shift every epoch value and are non-injective
    across DST folds), matching a timezone-naive oracle's epoch_us().

    The contract is ENFORCED, not just documented: a non-UTC active session
    raises here (driver-side, once per expression build — free) instead of
    silently shifting every derived epoch value."""
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is not None:
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
            raise ValueError(
                f"epoch_us requires spark.sql.session.timeZone=UTC (got {tz!r}):"
                " NTZ->TIMESTAMP casts reinterpret wall-clock under the session"
                " tz; non-UTC zones shift epochs and fold across DST."
                " Use glamr_omics_pipelines_spark.session.get_spark().")
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def top1_per_group(df: DataFrame, group_cols: list[str], order_cols: list) -> DataFrame:
    """Deterministic best-row-per-group: row_number()==1 over the given order.

    Pass fully-deterministic ``order_cols`` (include a tiebreak column) —
    matches slice_min(with_ties=FALSE) reference semantics.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def top1_by_agg(df: DataFrame, group_cols: list[str],
                order: list[tuple[str, bool]],
                payload: list[str]) -> DataFrame:
    """W1 top-1 as an AGGREGATE instead of a window: min(struct(keys, payload)).

    row_number() must sort every group; this is a partially-aggregable min —
    map-side combine reduces each partition to one candidate per group before
    the shuffle, and no sort happens at all. At fact-table scale this is the
    difference between a linear-time sort stage and a scan (8x data took a
    row_number plan from 0.9s to 4.9s; this plan stays near-flat).

    ``order``: (column, ascending) pairs forming a TOTAL order (include a
    tiebreak). Descending columns are negated, so they must be NUMERIC
    (timestamps are converted to epoch micros first; strings are not
    supported descending — use the window variant). Caveats: a bigint
    descending key must not contain LONG_MIN (ANSI mode raises on negation),
    and null order keys sort FIRST (Spark struct comparison) — filter them
    beforehand if that is not the wanted semantics.
    """
    from pyspark.sql.types import (DateType, StringType, TimestampNTZType,
                                   TimestampType)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    keys = []
    for i, (c, asc) in enumerate(order):
        col = F.col(c)
        dt = dtypes.get(c)
        if not asc:
            if isinstance(dt, (TimestampType, TimestampNTZType, DateType)):
                col = F.unix_micros(F.col(c).cast("timestamp"))
            elif isinstance(dt, StringType):
                raise ValueError(f"descending string key {c!r} unsupported "
                                 "in top1_by_agg; use top1_per_group")
        keys.append((col if asc else (-col)).alias(f"_k{i}"))
    packed = F.struct(*keys,
                      F.struct(*[F.col(p) for p in payload]).alias("_p"))
    agg = df.groupBy(*group_cols).agg(F.min(packed).alias("_w"))
    return agg.select(*group_cols,
                      *[F.col(f"_w._p.{p}").alias(p) for p in payload])


def tie_discard_top1(df: DataFrame, group_cols: list[str], score: str,
                     descending: bool = True) -> DataFrame:
    """Winner per group only when the best score is uniquely held.

    Reference: hmm_summarize.py:125-153 discards reads whose two best models
    tie. rank()==1 picks all ties; count over (group, score)==1 requires the
    winning score to be held by exactly one row.
    """
    ordc = F.col(score).desc() if descending else F.col(score).asc()
    w_rank = Window.partitionBy(*group_cols).orderBy(ordc)
    w_ties = Window.partitionBy(*group_cols, score)
    return (df.withColumn("_rk", F.rank().over(w_rank))
            .withColumn("_nt", F.count(F.lit(1)).over(w_ties))
            .filter((F.col("_rk") == 1) & (F.col("_nt") == 1))
            .drop("_rk", "_nt"))


def tie_discard_top1_agg(df: DataFrame, group_cols: list[str], score: str,
                         payload: list[str], tiebreak: str,
                         descending: bool = True) -> DataFrame:
    """tie_discard_top1 as aggregations (the 100 TB path for W1-tie-discard).

    Phase 1: groupBy(group, score) — count holders of each score and keep one
    deterministic representative row (min by tiebreak). Phase 2: struct-min
    top-1 over the per-score rows; groups whose best score has >1 holder are
    dropped. Both phases partial-aggregate map-side; nothing is ever sorted
    by more than the group key, and no full-row window shuffle happens.
    ``score`` must be numeric when descending (struct-min negation).
    """
    per_score = df.groupBy(*group_cols, score).agg(
        F.count(F.lit(1)).alias("_holders"),
        F.min(F.struct(F.col(tiebreak).alias("_t"),
                       F.struct(*[F.col(p) for p in payload]).alias("_p")))
        .getField("_p").alias("_rep"))
    flat = per_score.select(*group_cols, score, "_holders",
                            *[F.col(f"_rep.{p}").alias(p) for p in payload])
    best = top1_by_agg(flat, group_cols,
                       order=[(score, not descending)],
                       payload=[score, "_holders", *payload])
    return (best.filter(F.col("_holders") == 1)
            .drop("_holders"))


def lag_retention_ladder(df: DataFrame, group_cols: list[str], order_col: str,
                         count_col: str, out: str = "percent_retained") -> DataFrame:
    """Stage-over-stage retention: count / lag(count) over the ordered ladder.

    Reference: read_count percent_retained (postgres.Rmd:270-280) over
    read_state ordered by pipeline stage.
    """
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    # try_divide: a zero count at the previous stage makes retention
    # undefined (null) — not an ANSI DIVIDE_BY_ZERO killing the report
    return df.withColumn(
        out, F.try_divide(F.lit(100.0) * F.col(count_col),
                          F.lag(count_col).over(w)))


def anvio_stacked_filter(df: DataFrame, gene: str, score: str, threshold: str,
                         e_value: str, e_cutoff: float = 1e-5,
                         score_frac: float = 0.5,
                         tiebreak_cols: list | None = None) -> DataFrame:
    """The reference's most SQL-rich query (W2): kofam_scan_signif_anvio.

    postgres.Rmd:1418-1432 (dplyr) == postgres.Rmd:1455-1532 (generated SQL):
      1. keep hits with score > score_frac*threshold and e_value < e_cutoff,
         rank()==1 per (gene, ko-bucket) — here the input is already one row
         per candidate hit, so the first layer is the predicate filter;
      2. count(*) over (partition by gene): keep if the gene has a unique
         candidate OR the hit is fully significant (score >= threshold);
      3. rank() over (gene order by score desc)==1;
      4. row_number() over (gene order by threshold desc)==1  → exactly one
         winning annotation per gene.
    """
    ties = [F.col(c) for c in (tiebreak_cols or [])]
    w_gene_score = Window.partitionBy(gene).orderBy(F.col(score).desc())
    w_gene = Window.partitionBy(gene)
    w_gene_thr = Window.partitionBy(gene).orderBy(
        F.col(threshold).desc(), F.col(score).desc(), *ties)
    step1 = df.filter((F.col(score) > score_frac * F.col(threshold))
                      & (F.col(e_value) < e_cutoff))
    step2 = (step1.withColumn("_n_hits", F.count(F.lit(1)).over(w_gene))
             .filter((F.col("_n_hits") == 1) | (F.col(score) >= F.col(threshold))))
    step3 = step2.withColumn("_rk", F.rank().over(w_gene_score)).filter(F.col("_rk") == 1)
    step4 = step3.withColumn("_rn", F.row_number().over(w_gene_thr)).filter(F.col("_rn") == 1)
    return step4.drop("_n_hits", "_rk", "_rn")


def sequential_ids(df: DataFrame, order_cols: list, out: str = "seq_id") -> DataFrame:
    """Global sequential renumbering ordered by ``order_cols`` (W6).

    Reference: bins renumbered by create_time (code/standardize_bins.R:94-97).
    CONSTRAINT: a global total order is inherently a single-partition window;
    use only on driver-scale metadata (bin inventories, file catalogs), never
    on fact tables. For distributed monotonic ids without a total order, use
    ``F.monotonically_increasing_id()`` instead.
    """
    w = Window.orderBy(*order_cols)
    return df.withColumn(out, F.row_number().over(w))


def sessionize(df: DataFrame, user: str, ts: str, gap_seconds: int = 1800,
               out: str = "session_id") -> DataFrame:
    """Gap-based sessionization: new session when the inter-event gap exceeds
    ``gap_seconds``. Session id = running count of boundaries per user.

    ``ts`` may be TIMESTAMP or TIMESTAMP_NTZ; NTZ input requires a UTC
    session timezone (see ``epoch_us``) — the library's ``get_spark`` sets it.

    (Streaming-shaped batch operator; the streaming variant lives in
    streaming/ with applyInPandasWithState.)
    """
    w = Window.partitionBy(user).orderBy(ts)
    # microsecond precision: second-truncated gaps can flip the boundary
    # comparison vs engines that keep fractional seconds
    gap = epoch_us(ts) - F.lag(epoch_us(ts)).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    return (df.withColumn("_new", is_new)
            .withColumn(out, F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .drop("_new"))


def percent_rank_norm(df: DataFrame, group_cols: list[str], score_col: str,
                      out: str = "score_pct") -> DataFrame:
    """Within-group CDF normalization of a score: percent_rank in [0, 1]
    (ties share a rank; single-row groups get 0.0 by SQL definition). Makes
    quality scores comparable ACROSS groups with different distributions —
    the normalization step before a global corpus-wide cutoff can be fair to
    every language/source.

    One shuffle on the group key + an ordered pass; rank windows need no
    frame buffer, so memory per partition is O(1) beyond the sort.
    """
    w = Window.partitionBy(*group_cols).orderBy(score_col)
    return df.withColumn(out, F.percent_rank().over(w))


def scd2_compress(df: DataFrame, key_cols: list[str], ts_col: str,
                  attr_cols: list[str],
                  tiebreak_cols: list[str] = ()) -> DataFrame:
    """Slowly-changing-dimension (type 2) history compression: collapse an
    event log into attribute validity intervals — one row per run of
    unchanged attributes per key, with ``valid_from`` / ``valid_to``
    (null = current) and a per-key ``version`` number. The historical
    counterpart of the warehouse's incremental MERGE (sources/warehouse.py):
    MERGE keeps latest state, SCD2 keeps when each state held.

    Change detection is a null-safe struct compare against the previous
    row (one lead/lag window on the key — the same single shuffle the
    MERGE dedup pays); runs are numbered with a running sum of change
    flags, so the groupBy that emits intervals is deterministic under any
    partition layout (supply ``tiebreak_cols`` to fix timestamp ties).
    """
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    attr = F.struct(*[F.col(c) for c in attr_cols])
    changed = ~attr.eqNullSafe(F.lag(attr).over(w))
    version = F.sum(changed.cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    runs = (df.withColumn("_ver", version)
            .groupBy(*key_cols, "_ver", *attr_cols)
            .agg(F.min(ts_col).alias("valid_from"),
                 F.count(F.lit(1)).alias("n_events")))
    w2 = Window.partitionBy(*key_cols).orderBy("_ver")
    return (runs.withColumn("valid_to", F.lead("valid_from").over(w2))
            .withColumnRenamed("_ver", "version"))


def expanding_distinct(df: DataFrame, key_col: str, order_col: str,
                       value_col: str, tiebreak_col: str,
                       out: str = "distinct_so_far") -> DataFrame:
    """Running COUNT(DISTINCT value) per key ordered by time — the
    'unique taxa seen so far' / 'unique users to date' accumulation curve.
    COUNT(DISTINCT) isn't a legal window aggregate in any engine; the
    standard factorization: flag each value's FIRST occurrence within its
    key (row_number over (key, value) ordered by time == 1), then a
    cumulative SUM of flags over the time order.

    Two windows — (key, value) for the flag, then (key) for the cumsum —
    two narrow exchanges carrying flag-annotated rows; no self-join, no
    set-accumulating state (the memory-unbounded alternative).
    ``tiebreak_col`` makes both windows total orders so simultaneous
    events are engine-stable.
    """
    w_first = Window.partitionBy(key_col, value_col).orderBy(
        order_col, tiebreak_col)
    w_cum = (Window.partitionBy(key_col)
             .orderBy(order_col, tiebreak_col)
             .rowsBetween(Window.unboundedPreceding, 0))
    flag = (F.row_number().over(w_first) == 1).cast("long")
    return (df.withColumn("_new", flag)
            .withColumn(out, F.sum("_new").over(w_cum))
            .drop("_new"))


def debounce(df: DataFrame, key_cols: list[str], ts_col: str,
             min_gap_seconds: float, tiebreak_col: str) -> DataFrame:
    """Debounce near-time duplicates: within each key, keep an event only
    if the previous kept... — strictly, if the previous EVENT of that key
    is at least ``min_gap_seconds`` older (lag-gap form: each event
    compares to its immediate predecessor, the standard sensor/telemetry
    debounce; the first event of a key always survives). The batch twin
    of streaming dropDuplicatesWithinWatermark for value-identical keys.

    One (key, time) window (lag + filter) — a single exchange; row-local
    arithmetic after it. Note the lag-gap form is not transitive
    suppression (a burst of events each 1s apart all suppress off their
    immediate predecessor) — matching the relational expressible
    semantics both engines agree on; true run-suppression is sessionize
    with gap = min_gap (already in the catalog).
    """
    gap_us = int(min_gap_seconds * 1_000_000)
    w = Window.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    prev = F.lag(epoch_us(ts_col)).over(w)
    keep = prev.isNull() | (epoch_us(ts_col) - prev >= gap_us)
    return df.withColumn("_keep", keep).filter(F.col("_keep")).drop("_keep")
