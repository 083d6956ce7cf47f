"""Web-corpus curation operators: URL normalization and domain filtering.

The crawl-side companions of the text-curation family (SURVEY §8): a web
corpus at 100 TB is keyed by URL, filtered by domain blocklists, and
deduplicated at normalized-URL grain BEFORE any content-level pass —
these operators are the cheap scan-stage gates that run first.

All pure builtin expressions (whole-stage codegen, zero shuffle for the
row-local forms); heuristics deterministic so the DuckDB oracle can
mirror them exactly. No reference analog (the reference is an omics
pipeline); precedent is the public CommonCrawl/CCNet/RefinedWeb curation
recipes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# default tracking-parameter prefixes stripped by url_normalize (the
# CommonCrawl/RefinedWeb convention: analytics params never change content)
TRACKING_PARAM_PREFIXES = ["utm_", "gclid=", "fbclid=", "ref="]

# blocklists above this size switch from a codegen literal IN-array to a
# broadcast-join plan (a 100k-domain literal would bloat the plan string
# and codegen; a broadcast hash join is the right physical shape there)
_BLOCKLIST_LITERAL_MAX = 256


def normalize_url(url_col) -> Column:
    """Canonical URL for exact dedup at URL grain, as ONE codegen column:

    1. fragment stripped (``#...`` never reaches the server);
    2. scheme+host lowercased (RFC 3986: both case-insensitive; path case
       is preserved — it is significant);
    3. default ports stripped (``:80`` for http, ``:443`` for https);
    4. a ``www.`` host prefix stripped (the standard crawl-dedup alias);
    5. tracking query params dropped (``utm_*``/``gclid``/``fbclid``/
       ``ref`` — TRACKING_PARAM_PREFIXES), remaining params SORTED so
       param order can't split a dup group; empty query dropped;
    6. a trailing ``/`` on the path stripped (``/a/`` == ``/a``; the bare
       root collapses to the host).

    Row-local, zero shuffle — at crawl scale this runs in the scan stage
    and the dedup is one groupBy on the result.
    """
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    u = F.substring_index(u, "#", 1)                      # 1. fragment
    pre = F.substring_index(u, "?", 1)
    q = F.when(F.length(u) > F.length(pre),
               F.substring(u, F.length(pre) + 2, F.length(u))
               ).otherwise(F.lit(""))
    # scheme://host[:port] = the first three '/'-delimited segments
    sh = F.lower(F.substring_index(pre, "/", 3))          # 2. lowercase
    path = F.substring(pre, F.length(sh) + 1, F.length(pre))
    sh = (F.when(sh.startswith("http://"),
                 F.regexp_replace(sh, ":80$", ""))
          .when(sh.startswith("https://"),
                F.regexp_replace(sh, ":443$", ""))
          .otherwise(sh))                                 # 3. default port
    sh = F.regexp_replace(sh, "^(https?://)www\\.", "$1")  # 4. www.
    keep = F.filter(
        F.split(q, "&"),
        lambda kv: (kv != "") & ~_is_tracking_param(kv))  # 5. params
    params = F.array_join(F.array_sort(keep), "&")
    path = F.regexp_replace(path, "/$", "")               # 6. trailing /
    return F.concat(sh, path,
                    F.when(params == "", F.lit(""))
                    .otherwise(F.concat(F.lit("?"), params)))


def _is_tracking_param(kv: Column) -> Column:
    out = F.lit(False)
    for p in TRACKING_PARAM_PREFIXES:
        out = out | kv.startswith(p)
    return out


def url_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """Exact dedup at normalized-URL grain: one row per canonical URL with
    ``n_urls`` (collapsed variant count) and ``canonical_id`` (minimum id —
    deterministic survivor, the exact_dedup convention).

    Scale shape: normalize_url is scan-stage; the only shuffle is the
    URL-grain partial agg (map-side combined). At crawl scale this is the
    first dedup pass, upstream of any content hash.
    """
    return (df.select(F.col(id_col),
                      normalize_url(url_col).alias("normalized_url"))
            .groupBy("normalized_url")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.min(id_col).alias("canonical_id")))


def host_suffixes(host_col) -> Column:
    """All dot-suffixes of a hostname (``a.b.c`` → [``a.b.c``, ``b.c``,
    ``c``]) as a row-local HOF column — the match key set for
    suffix-semantics blocklists (a rule ``example.com`` blocks every
    subdomain). A host's suffixes are totally ordered by containment, so
    at most one blocklist match exists per length (longest is unique).
    """
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    parts = F.split(h, "\\.")
    n = F.array_size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."))


def domain_blocklist_filter(df: DataFrame, host_col: str,
                            blocklist: list[str]) -> DataFrame:
    """Suffix-semantics domain blocklist verdict per row: ``is_blocked``
    plus ``matched_rule`` (the LONGEST matching rule — most specific —
    null when clean). A rule matches when the host equals it or ends with
    ``"." + rule`` (standard adblock/SURBL suffix semantics).

    Two physical forms, picked by ``len(blocklist)`` alone
    (``_BLOCKLIST_LITERAL_MAX``):

    - literal (≤ 256 rules): the blocklist is a codegen
      literal array and the whole verdict is ONE row-local projection —
      zero shuffle, zero join; the filter runs in the scan stage.
    - join (above): suffixes explode (≤ label-count rows per host)
      and equi-join the broadcast blocklist frame, then a doc-grain
      struct-max picks the longest match — the 100k-domain-blocklist
      shape where a literal would bloat the plan; the host table is
      never shuffled (broadcast side is the blocklist).

    Both forms are value-identical (tested). Output: input columns +
    ``matched_rule`` + ``is_blocked``.
    """
    if not blocklist:
        raise ValueError("domain_blocklist_filter: blocklist is empty")
    rules = sorted(set(blocklist))
    if len(blocklist) <= _BLOCKLIST_LITERAL_MAX:
        lit = F.array(*[F.lit(r) for r in rules])
        matches = F.filter(host_suffixes(host_col),
                           lambda s: F.array_contains(lit, s))
        best = F.array_max(F.transform(
            matches, lambda s: F.struct(F.length(s).alias("l"),
                                        s.alias("rule"))))
        d = df.withColumn("matched_rule", best["rule"])
    else:
        spark = df.sparkSession
        bdf = F.broadcast(spark.createDataFrame(
            [(r,) for r in rules], schema="_rule string"))
        # collision-checked scratch names (bpe_encode convention): the
        # join-back frame's columns must never shadow caller columns
        def _scratch(base: str) -> str:
            name = base
            while name in df.columns:
                name += "_"
            return name
        hc, bc, sc = (_scratch("_dbf_host"), _scratch("_dbf_best"),
                      _scratch("_dbf_suffix"))
        sufs = df.select(F.col(host_col).alias(hc)).distinct() \
            .select(hc, F.explode(host_suffixes(hc)).alias(sc))
        hits = (sufs.join(bdf, sufs[sc] == bdf["_rule"])
                .groupBy(hc)
                .agg(F.max(F.struct(F.length("_rule").alias("l"),
                                    F.col("_rule").alias("rule")))
                     .alias(bc)))
        d = (df.join(hits, df[host_col] == hits[hc], "left")
             .withColumn("matched_rule", F.col(bc)["rule"])
             .drop(hc, bc))
    return d.withColumn("is_blocked", F.col("matched_rule").isNotNull())
