"""Command-line entry points (the Layer-B docopt-CLI analog, SURVEY §3.2).

The reference drives every tabular pipeline from a shell command
(`Rscript code/merge_bracken.R --glob ... --out ...`, docopt parse at e.g.
code/tax_abund_from_contigs.R:2-12). This module gives the engine the same
operational surface:

    python -m glamr_omics_pipelines_spark fixtures OUT_DIR
    python -m glamr_omics_pipelines_spark merge-bracken --glob G --tax T --out D
    python -m glamr_omics_pipelines_spark warehouse-build --root R [--demo DIR]
    python -m glamr_omics_pipelines_spark query NAME --sf-dir D [--out P]
    python -m glamr_omics_pipelines_spark list-queries

`query` runs any entry of the __spark_entry__ catalog (resolved from
--entry / $SPARK_GRAFT_ENTRY / CWD), writing Parquet or printing a preview.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys


def _spark(args):
    from glamr_omics_pipelines_spark.session import get_spark
    return get_spark("glamr-cli", master=args.master)


def _load_entry(path: str | None):
    path = path or os.environ.get("SPARK_GRAFT_ENTRY") or \
        os.path.join(os.getcwd(), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    if spec is None or not os.path.exists(path):
        raise SystemExit(f"query catalog not found: {path}")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("__spark_entry__", mod)
    spec.loader.exec_module(mod)
    return mod


def cmd_fixtures(args) -> int:
    from glamr_omics_pipelines_spark import fixtures
    out = args.out_dir
    rows = fixtures.make_bracken_counts(fixtures.make_taxonomy())
    bracken_glob = fixtures.write_bracken_tree(os.path.join(out, "bracken"), rows)
    rpkm_glob = fixtures.make_gene_rpkm_files(os.path.join(out, "rpkm"),
                                              fixtures.make_contigs())
    print(json.dumps({"bracken_glob": bracken_glob, "rpkm_glob": rpkm_glob}))
    return 0


def cmd_merge_bracken(args) -> int:
    spark = _spark(args)
    from glamr_omics_pipelines_spark.pipelines import glamr
    from glamr_omics_pipelines_spark.sources.sinks import write_tsv
    tax = spark.read.parquet(args.tax) if args.tax.endswith(".parquet") \
        else spark.read.option("sep", "\t").option("header", True).csv(args.tax)
    long, counts, relab = glamr.merge_bracken(spark, args.glob, tax)
    write_tsv(counts, os.path.join(args.out, "counts.tsv"))
    write_tsv(relab, os.path.join(args.out, "rel_abund.tsv"))
    print(json.dumps({"rows": long.count(), "out": args.out}))
    return 0


def cmd_warehouse_build(args) -> int:
    spark = _spark(args)
    from glamr_omics_pipelines_spark.pipelines import warehouse_build
    if args.demo:
        import pandas as pd
        from glamr_omics_pipelines_spark import fixtures

        def local(rows):  # pandas-built: a LocalRelation the DAG can
            # fingerprint, with the schema a list of dicts infers
            schema = spark.createDataFrame(rows).schema
            return spark.createDataFrame(
                pd.DataFrame(rows, columns=schema.names), schema)
        taxonomy = fixtures.make_taxonomy()
        contigs = fixtures.make_contigs()
        checkm, gtdb, drep, _ = fixtures.make_bins(contigs)
        mapping, lookup, index = fixtures.make_uniref_mapping(taxonomy)
        frames = {
            "tax_info": local(taxonomy),
            "checkm": local(checkm),
            "gtdb": local(gtdb),
            "drep": local(drep),
            "kofam": local(fixtures.make_kofam(contigs)),
            "read_counts": local(fixtures.make_read_counts()),
            "read_mapping": local(mapping),
            "uniref_lookup": local(lookup),
            "uniref_index": local(index),
        }
        rows = fixtures.make_bracken_counts(taxonomy)
        bracken_glob = fixtures.write_bracken_tree(
            os.path.join(args.demo, "bracken"), rows)
        rpkm_glob = fixtures.make_gene_rpkm_files(
            os.path.join(args.demo, "rpkm"), contigs)
    else:
        if not (args.frames_dir and args.bracken_glob and args.rpkm_glob):
            raise SystemExit("need --frames-dir, --bracken-glob and "
                             "--rpkm-glob (or --demo DIR)")
        names = ["tax_info", "checkm", "gtdb", "drep", "kofam", "read_counts",
                 "read_mapping", "uniref_lookup", "uniref_index"]
        frames = {n: spark.read.parquet(os.path.join(args.frames_dir,
                                                     f"{n}.parquet"))
                  for n in names}
        bracken_glob, rpkm_glob = args.bracken_glob, args.rpkm_glob
    ctx = warehouse_build.build_warehouse(spark, args.root, bracken_glob,
                                          rpkm_glob, frames)
    print(json.dumps({t: ctx[t].count() for t in
                      ["bracken", "gene_abundance", "read_count", "tpm",
                       "bin_summary_view", "kofam_mv"]}))
    return 0


def cmd_query(args) -> int:
    mod = _load_entry(args.entry)
    qs = mod.queries()
    if args.name not in qs:
        raise SystemExit(f"unknown query {args.name!r}; see list-queries")
    from glamr_omics_pipelines_spark.session import release
    spark = _spark(args)
    try:
        df = qs[args.name](spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"query": args.name, "out": args.out}))
        else:
            df.show(args.limit, truncate=False)
    finally:
        # operators persist() and localCheckpoint() intermediates their lazy
        # API cannot release; free them on every path so repeated CLI
        # queries in one session don't accumulate blocks or handles
        release(spark)
    return 0


def cmd_profile(args) -> int:
    """Column-profile audit of a parquet table (nulls / distincts / min /
    max per column, one scan) — the check_import_status-style health check,
    runnable against any warehouse table."""
    from glamr_omics_pipelines_spark.sources.warehouse import profile_table
    spark = _spark(args)
    df = spark.read.parquet(args.path)
    cols = args.columns.split(",") if args.columns else df.columns
    unknown = [c for c in cols if c not in df.columns]
    if unknown:
        raise SystemExit(f"unknown columns {unknown}; table has {df.columns}")
    profile_table(df, cols).show(len(cols), truncate=False)
    return 0


def cmd_validate(args) -> int:
    """Run a data-quality expectations suite against a parquet table from a
    compact rule spec: ``--rule not_null:col``, ``--rule unique:col``,
    ``--rule accepted:col:v1|v2``, ``--rule in_range:col:lo:hi``,
    ``--rule matches:col:regex``. All rules compile into ONE aggregate
    scan; exits 1 if any check fails (cron-gate friendly)."""
    from glamr_omics_pipelines_spark.operators import validate as V
    spark = _spark(args)
    df = spark.read.parquet(args.path)
    table = os.path.basename(args.path.rstrip("/")).replace(".parquet", "")
    rules = []
    for spec in args.rule:
        kind, _, rest = spec.partition(":")
        if kind == "not_null":
            rules.append(V.not_null(rest))
        elif kind == "unique":
            rules.append(V.unique(rest))
        elif kind == "accepted":
            col, _, vals = rest.partition(":")
            rules.append(V.accepted(col, vals.split("|")))
        elif kind == "in_range":
            col, lo, hi = rest.split(":")
            rules.append(V.in_range(col, float(lo), float(hi)))
        elif kind == "matches":
            col, _, rx = rest.partition(":")
            rules.append(V.matches(col, rx))
        else:
            raise SystemExit(f"unknown rule kind {kind!r} in {spec!r}")
    report = V.expectations_report(df, table, rules).collect()
    failed = 0
    for r in report:
        print(f"{'PASS' if r.passed else 'FAIL'}\t{r.check}\t"
              f"violations={r.violations}")
        failed += 0 if r.passed else 1
    return 1 if failed else 0


def cmd_list_queries(args) -> int:
    mod = _load_entry(args.entry)
    oracles = mod.oracle_sql()
    for name in mod.queries():
        tag = "oracle" if name in oracles else "rows-only"
        print(f"{name}\t{tag}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="glamr-spark")
    ap.add_argument("--master", default=None,
                    help="spark master (default: local[*] via session defaults)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("fixtures", help="materialize the micro-fixture tree")
    p.add_argument("out_dir")
    p.set_defaults(fn=cmd_fixtures)

    p = sub.add_parser("merge-bracken",
                       help="merge_bracken.R pipeline: scan->join->pivot->TSV")
    p.add_argument("--glob", required=True)
    p.add_argument("--tax", required=True,
                   help="taxonomy table (.parquet or TSV)")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_merge_bracken)

    p = sub.add_parser("warehouse-build",
                       help="Layer-C incremental warehouse build")
    p.add_argument("--root", required=True)
    p.add_argument("--demo", metavar="DIR",
                   help="generate fixture inputs under DIR instead of "
                        "--frames-dir/globs")
    p.add_argument("--frames-dir",
                   help="directory of <frame>.parquet inputs. A rerun skips "
                        "a stage whose inputs are unchanged, but parquet "
                        "frames are not in-memory LocalRelations and cannot "
                        "be fingerprinted without a Spark job, so the "
                        "stages that read them run on every build")
    p.add_argument("--bracken-glob", help="local glob of bracken reports")
    p.add_argument("--rpkm-glob", help="local glob of bbmap rpkm files")
    p.set_defaults(fn=cmd_warehouse_build)

    p = sub.add_parser("query", help="run a catalog query")
    p.add_argument("name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--out", help="write Parquet here instead of showing")
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--entry", help="path to __spark_entry__.py")
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser("profile", help="column-profile a parquet table")
    p.add_argument("path")
    p.add_argument("--columns", help="comma-separated subset (default: all)")
    p.set_defaults(fn=cmd_profile)

    p = sub.add_parser("validate",
                       help="expectations suite over a parquet table")
    p.add_argument("path")
    p.add_argument("--rule", action="append", required=True,
                   help="kind:col[:args] — not_null/unique/accepted/"
                        "in_range/matches; repeatable")
    p.set_defaults(fn=cmd_validate)

    p = sub.add_parser("list-queries", help="list catalog queries")
    p.add_argument("--entry", help="path to __spark_entry__.py")
    p.set_defaults(fn=cmd_list_queries)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
