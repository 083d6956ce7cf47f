"""Declarative data-quality expectations, compiled to single-scan aggregates.

The reference guards its warehouse with ad-hoc assertions sprinkled through
the import Rmds — `stopifnot(!any(duplicated(...)))` before UPSERTs,
NA checks on key columns, accepted-value checks on enum-ish fields
(postgres.Rmd import blocks) — and its pipeline breaks silently when they
are skipped. This module is the engine-level form (the dbt-tests /
Great-Expectations pattern): a table's expectations compile into ONE
aggregate pass over the data, emitting a small (check, violations, passed)
report frame instead of a driver-side assertion.

Scale: every column rule is a conditional-count expression in a single
partial-aggregated scan — adding a rule adds zero passes. ``unique`` adds
an exact count-distinct (one shuffle of the key column only);
``referential`` is a separate anti-join per relation (shuffle on the key,
broadcast when the parent is a dimension). Nothing collects; compose the
report frames with unionByName and sink them like any table.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One expectation: ``kind`` ∈ {not_null, unique, accepted, in_range,
    matches}; ``col`` the column; ``arg`` the kind-specific payload."""
    kind: str
    col: str
    arg: object = None

    @property
    def name(self) -> str:
        return f"{self.col}.{self.kind}"


def not_null(col: str) -> Rule:
    return Rule("not_null", col)


def unique(col: str) -> Rule:
    return Rule("unique", col)


def accepted(col: str, values: Sequence) -> Rule:
    return Rule("accepted", col, tuple(values))


def in_range(col: str, lo, hi) -> Rule:
    return Rule("in_range", col, (lo, hi))


def matches(col: str, regex: str) -> Rule:
    return Rule("matches", col, regex)


def _violations(rule: Rule) -> F.Column:
    c = F.col(rule.col)
    if rule.kind == "not_null":
        return F.sum(c.isNull().cast("long"))
    if rule.kind == "unique":
        # duplicated rows = non-null rows minus distinct non-null values
        return F.count(c) - F.count_distinct(c)
    if rule.kind == "accepted":
        bad = c.isNotNull() & ~c.isin(list(rule.arg))
        return F.sum(bad.cast("long"))
    if rule.kind == "in_range":
        lo, hi = rule.arg
        bad = c.isNotNull() & ((c < lo) | (c > hi))
        return F.sum(bad.cast("long"))
    if rule.kind == "matches":
        bad = c.isNotNull() & ~c.rlike(rule.arg)
        return F.sum(bad.cast("long"))
    raise ValueError(f"unknown rule kind: {rule.kind!r}")


def expectations_report(df: DataFrame, table: str,
                        rules: Sequence[Rule]) -> DataFrame:
    """Evaluate all ``rules`` in ONE aggregate scan; returns the long-form
    report (check, violations, passed) with checks named
    ``table.column.kind``."""
    if not rules:
        raise ValueError("expectations_report needs at least one rule")
    aggs = [F.coalesce(_violations(r), F.lit(0)).cast("long")
            .alias(f"_v{i}") for i, r in enumerate(rules)]
    wide = df.agg(*aggs)
    parts = ", ".join(f"'{table}.{r.name}', _v{i}"
                      for i, r in enumerate(rules))
    long = wide.selectExpr(
        f"stack({len(rules)}, {parts}) as (check, violations)")
    return long.withColumn("passed", F.col("violations") == 0)


def referential_report(child: DataFrame, parent: DataFrame,
                       keys: Sequence[str], name: str) -> DataFrame:
    """Orphan check: child rows whose ``keys`` have no match in parent
    (null keys are not orphans — SQL FK semantics). One anti join; the
    parent side ships only its distinct key columns, and Spark's join
    planning (autoBroadcastJoinThreshold plus AQE's runtime sizes) decides
    whether it broadcasts — a dimension parent does, a fact-sized one
    shuffles instead of being forced onto every executor."""
    pk = parent.select(*keys).distinct()
    nonnull = child
    for k in keys:
        nonnull = nonnull.filter(F.col(k).isNotNull())
    orphans = nonnull.join(pk, list(keys), "left_anti")
    return (orphans.agg(F.count(F.lit(1)).alias("violations"))
            .select(F.lit(name).alias("check"),
                    F.col("violations").cast("long").alias("violations"))
            .withColumn("passed", F.col("violations") == 0))


def key_skew_profile(df: DataFrame, cols: Sequence[str],
                     top_n: int = 5) -> DataFrame:
    """Join-key skew diagnostic: for each candidate key column, the top-N
    heaviest values with count, share of rows, and the ratio of the
    heaviest value to the mean value load — the number that predicts
    whether a shuffle join on that key needs salting (X19) or AQE skew
    handling BEFORE the job runs, not after the straggler.

    One unpivot scan (stack → (col, value) pairs) + one partial-agg count +
    a per-column top-N window over the value-grain counts — value-grain
    rows cross the shuffle, never the fact table. NULLs are profiled too
    (they hash to one reducer like any hot key); the value is reported as a
    string column so heterogeneous key types stack.
    """
    from pyspark.sql import Window
    stacked = df.select(F.expr(
        "stack({}, {})".format(len(cols), ", ".join(
            f"'{c}', cast(`{c}` as string)" for c in cols)))
        .alias("key_col", "key_value"))
    counts = (stacked.groupBy("key_col", "key_value")
              .agg(F.count(F.lit(1)).alias("n")))
    w_tot = Window.partitionBy("key_col")
    w_rank = Window.partitionBy("key_col").orderBy(
        F.col("n").desc(), F.col("key_value").asc_nulls_last())
    return (counts
            .withColumn("_total", F.sum("n").over(w_tot))
            .withColumn("_nvals", F.count(F.lit(1)).over(w_tot))
            .withColumn("_rk", F.row_number().over(w_rank))
            .filter(F.col("_rk") <= top_n)
            .select("key_col", "key_value",
                    F.col("_rk").cast("bigint").alias("rank"),
                    F.col("n").cast("bigint").alias("n"),
                    F.round(F.col("n") / F.col("_total"), 6).alias("share"),
                    F.round(F.col("n") * F.col("_nvals") / F.col("_total"), 4)
                    .alias("skew_ratio")))


def benford_deviation(df: DataFrame, group_cols: Sequence[str],
                      value_col: str) -> DataFrame:
    """Benford's-law conformity per group: the first-significant-digit
    distribution of positive values vs log10(1 + 1/d), scored with the
    chi-square statistic (n·Σ(p̂_d − p_d)²/p_d) and the max absolute
    deviation — the fabricated-data / unit-mix-up smell test auditors run
    on measurement tables (a data-quality expectation, X71's numeric kin).

    First digit via string head of the absolute value in scientific
    notation-free form: format_number is locale-bound, so use the
    numeric ladder instead — d = floor(x / 10^floor(log10(x))), pure
    math, engine-portable. One group×9 partial agg; expectations are
    literals.
    """
    x = F.abs(F.col(value_col).cast("double"))
    d = df.filter(x > 0).withColumn(
        "_d", F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x))))
        .cast("int"))
    # floating log10 can land exactly-10 on powers of ten; clamp into 1..9
    d = d.withColumn("_d", F.when(F.col("_d") > 9, 1)
                     .when(F.col("_d") < 1, 1).otherwise(F.col("_d")))
    counts = (d.groupBy(*group_cols, "_d")
              .agg(F.count(F.lit(1)).alias("_c")))
    tot = counts.groupBy(*group_cols).agg(F.sum("_c").alias("_n"))
    import math
    expected = F.create_map(*[x_ for dd in range(1, 10)
                              for x_ in (F.lit(dd),
                                         F.lit(math.log10(1 + 1 / dd)))])
    # densify to ALL 9 digits per group (group×9 — tiny): an unobserved
    # digit contributes (0−p_d)²/p_d = p_d to the statistic and p_d to the
    # max deviation; summing only observed digits would systematically
    # deflate the score for exactly the degenerate distributions this
    # check exists to flag (e.g. every value starting with the same digit).
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("_d"))
    full = (tot.crossJoin(F.broadcast(digits))
            .join(counts, [*group_cols, "_d"], "left")
            .withColumn("_c", F.coalesce(F.col("_c"), F.lit(0))))
    j = (full.withColumn("_p", F.col("_c") / F.col("_n"))
         .withColumn("_e", expected[F.col("_d")]))
    dev = F.col("_p") - F.col("_e")
    return (j.groupBy(*group_cols)
            .agg(F.first("_n").cast("bigint").alias("n"),
                 F.round(F.sum(dev * dev / F.col("_e"))
                         * F.first("_n"), 4).alias("benford_chi2"),
                 F.round(F.max(F.abs(dev)), 4).alias("max_abs_dev")))
