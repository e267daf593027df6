"""CLI front door — the reference drives everything through typer
CLIs (crawler/metadata.py run, process_all.py process,
aeneas_batch_align.py run); this is the Spark-engine equivalent.

    python -m vnavc_spark list
    python -m vnavc_spark query q01_region_revenue [--sf-dir DIR] [--limit N]
    python -m vnavc_spark sql "SELECT ... FROM lineitem ..." [--sf-dir DIR]
    python -m vnavc_spark text-stage --books CSV --texts DIR --out DIR
    python -m vnavc_spark dedup --sf-dir DIR [--threshold 0.8]
"""

from __future__ import annotations

import argparse
import sys


def _spark(args):
    from vnavc_spark.session import get_spark

    return get_spark(app_name=f"vnavc-cli:{args.cmd}")


def cmd_list(args) -> int:
    from vnavc_spark.queries import all_oracles, all_queries

    oracles = all_oracles()
    for name, fn in sorted(all_queries().items()):
        kind = "oracle" if name in oracles else "rows-only"
        doc = (fn.__doc__ or "").strip().splitlines()[0]
        print(f"{name:26s} [{kind}] {doc}")
    return 0


def cmd_query(args) -> int:
    from vnavc_spark.queries import all_queries

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_explain(args) -> int:
    from vnavc_spark.plans.audit import explain_string, plan_facts
    from vnavc_spark.queries import all_queries

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.name](spark, args.sf_dir)
    print(explain_string(df, args.mode))
    f = plan_facts(df)
    print(
        f"-- audit: broadcast={f.broadcast_joins} sortmerge={f.sortmerge_joins}"
        f" nested_loop={f.nested_loop_joins} exchanges={f.exchanges}"
        f" python_nodes={f.python_nodes} pushed_filters={len(f.pushed_filters)}"
    )
    return 0


def cmd_sql(args) -> int:
    from vnavc_spark.io import register_views

    spark = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, args.sf_dir)
    spark.sql(args.statement).show(args.limit, truncate=False)
    return 0


def cmd_text_stage(args) -> int:
    from pyspark.sql import functions as F

    from vnavc_spark.pipeline.text_pipeline import process_text_stage
    from vnavc_spark.sources.metadata import read_books_csv

    spark = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    books = read_books_csv(spark, args.books)
    texts = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(args.texts)
        .select(
            F.regexp_extract(
                F.regexp_replace("path", r"^file:", ""), r"([^/]+?)\.txt$", 1
            ).alias("name"),
            F.decode("content", "utf-8").alias("raw_text"),
        )
        .join(books.select(F.col("id").alias("book_id"), "name"), on="name")
        .drop("name")
    )
    sents, groups, metrics = process_text_stage(texts)
    sents.write.mode("overwrite").parquet(f"{args.out}/sentences")
    groups.write.mode("overwrite").parquet(f"{args.out}/groups")
    metrics.write.mode("overwrite").parquet(f"{args.out}/metrics")
    print(f"wrote sentences/groups/metrics under {args.out}")
    return 0


def cmd_dedup(args) -> int:
    from vnavc_spark.io import table
    from vnavc_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_dedup_pairs,
        stage_minhash_signatures,
    )

    spark = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    if args.compact:
        if not args.sig_dir:
            print("--compact requires --sig-dir", file=sys.stderr)
            return 2
        from vnavc_spark.operators.dedup import compact_signature_table

        for path, r in compact_signature_table(spark, args.sig_dir).items():
            print(
                f"compacted {path}: {r['rows']} rows, "
                f"{r['files_before']} -> {r['files_after']} files"
            )
        return 0
    docs = table(spark, args.sf_dir, "documents")
    if args.incremental:
        if not args.sig_dir:
            print("--incremental requires --sig-dir", file=sys.stderr)
            return 2
        n_new, new_ids = stage_minhash_signatures(docs, args.sig_dir)
        print(f"staged {n_new} new signatures in {args.sig_dir}")
        if n_new == 0:
            print("corpus unchanged — no new docs to dedup")
            return 0
        pairs = incremental_dedup_pairs(
            docs, args.sig_dir, new_ids, threshold=args.threshold
        )
    else:
        pairs = minhash_dedup_pairs(docs, threshold=args.threshold)
    pairs.show(args.limit, truncate=False)
    print(f"near-dup pairs (jaccard >= {args.threshold}): {pairs.count()}")
    return 0


def cmd_er(args) -> int:
    from pyspark.sql import functions as F

    from vnavc_spark.io import table
    from vnavc_spark.pipeline import er

    spark = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    cust = table(spark, args.sf_dir, "customer")
    ent = er.customer_entities(spark, args.sf_dir)
    res = er.resolve_entities(
        cust, ent, args.var_path, name_col="c_name", radius=args.radius
    )
    print(f"staged {res.n_new_names} new names in {args.var_path}")
    n_pairs = res.scored.count()
    n_match = res.scored.filter(F.col("decision") == "match").count()
    n_clustered = res.clusters.count()
    n_entities = res.rekeyed.select("entity_id").distinct().count()
    n_records = res.rekeyed.count()
    print(
        f"candidates {n_pairs}, matches {n_match}, clustered names "
        f"{n_clustered}, records {n_records} -> entities {n_entities}"
    )
    res.rekeyed.select("c_custkey", "c_name", "entity_id").show(
        args.limit, truncate=False
    )
    return 0


def cmd_verify(args) -> int:
    from vnavc_spark.oracle import compare, duckdb_connect
    from vnavc_spark.queries import all_oracles, all_queries

    spark = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = all_queries(), all_oracles()
    names = list(qs) if args.name == "all" else [args.name]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    con = duckdb_connect(args.sf_dir)
    n_fail = 0
    for name in names:
        if name not in oracles:
            print(f"SKIP {name} (no SQL-expressible oracle)")
            continue
        r = compare(spark, con, qs[name], oracles[name], args.sf_dir)
        status = "OK  " if r["ok"] else "FAIL"
        print(
            f"{status} {name}: {r['rows_spark']} rows, "
            f"hash_match={r['hash_match']}"
        )
        if not r["ok"]:
            n_fail += 1
    print(f"verified {len(names)} queries, {n_fail} failures")
    return 1 if n_fail else 0


def _monitor_snapshots() -> dict[str, tuple]:
    """Monitor command table, derived from the single-authority twin
    registry (``streaming.ingest.TWINS`` — also the source of
    docs/MONITORS.md via tools/gen_monitors.py, so the CLI and the
    doc cannot drift): twin -> (spec factory, tuning flags). Lazy:
    importing ingest pulls pyspark, which `vnavc_spark list`
    shouldn't pay for."""
    from vnavc_spark.streaming.ingest import TWINS

    return {
        name: (info["spec"], tuple(info["flags"]))
        for name, info in TWINS.items()
    }


def cmd_monitor(args) -> int:
    from vnavc_spark.streaming import ingest

    snapshots = _monitor_snapshots()
    if args.twin == "list":
        for name, (spec, flags) in sorted(snapshots.items()):
            extra = f"  [--{' --'.join(flags)}]" if flags else ""
            module = spec.__module__.rsplit(".", 1)[-1]
            print(f"{name:18s} {module}.{spec.__name__}{extra}")
        return 0
    if args.twin not in snapshots:
        print(
            f"unknown twin: {args.twin} (try `monitor list`)",
            file=sys.stderr,
        )
        return 2
    if not args.partials:
        print("--partials is required for a snapshot", file=sys.stderr)
        return 2
    spec, flags = snapshots[args.twin]
    # a tuning flag the chosen twin doesn't accept is a user error
    # (e.g. `monitor benford --k 5`): error loudly instead of silently
    # dropping it and printing a readout the flag never influenced.
    # The flag universe derives from the registry (not a hardcoded
    # tuple) so a future twin's new flag can't silently re-open the
    # drop-it hole.
    universe = sorted({f for _, fl in snapshots.values() for f in fl})
    stray = [
        f"--{f}"
        for f in universe
        if getattr(args, f, None) is not None and f not in flags
    ]
    if stray:
        accepted = (
            f"accepts --{' --'.join(flags)}" if flags else "accepts no flags"
        )
        print(
            f"twin '{args.twin}' {accepted}; "
            f"ignored-flag error: {' '.join(stray)}",
            file=sys.stderr,
        )
        return 2
    # each flag is a keyword of the twin's spec factory
    kwargs = {f: getattr(args, f) for f in flags if getattr(args, f) is not None}
    spark = _spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    ingest.snapshot(spark, args.partials, spec(**kwargs)).show(
        args.limit, truncate=False
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    from vnavc_spark.io import DEFAULT_SF_DIR

    p = argparse.ArgumentParser(prog="vnavc_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registry queries")

    q = sub.add_parser("query", help="run a registry query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    q.add_argument("--limit", type=int, default=20)

    s = sub.add_parser("sql", help="run SQL over the registered views")
    s.add_argument("statement")
    s.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    s.add_argument("--limit", type=int, default=20)

    x = sub.add_parser("explain", help="physical plan + audit facts")
    x.add_argument("name")
    x.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    x.add_argument("--mode", default="formatted")

    t = sub.add_parser("text-stage", help="run the text pipeline")
    t.add_argument("--books", required=True, help="metadata_book.csv path")
    t.add_argument("--texts", required=True, help="dir of {name}.txt files")
    t.add_argument("--out", required=True)

    d = sub.add_parser("dedup", help="MinHash-LSH near-dedup over documents")
    d.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--limit", type=int, default=20)
    d.add_argument(
        "--incremental",
        action="store_true",
        help="stage signatures in --sig-dir; dedup only new docs",
    )
    d.add_argument("--sig-dir", default=None, help="signature table path")
    d.add_argument(
        "--compact",
        action="store_true",
        help="compact the --sig-dir state tables (one row/id, few files)",
    )

    e = sub.add_parser(
        "er",
        help="entity resolution off a staged variant table: "
        "block -> score -> cluster -> rekey, blocking paid once",
    )
    e.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    e.add_argument(
        "--var-path", required=True, help="persistent variant table path"
    )
    e.add_argument("--radius", type=int, default=2)
    e.add_argument("--limit", type=int, default=20)

    v = sub.add_parser(
        "verify", help="hash-compare a query (or all) vs its DuckDB oracle"
    )
    v.add_argument("name", help="registry query name, or 'all'")
    v.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    m = sub.add_parser(
        "monitor",
        help="recompute a streaming-twin readout from staged partials",
    )
    m.add_argument("twin", help="twin name, or 'list'")
    m.add_argument("--partials", default=None, help="staged partials dir")
    m.add_argument("--limit", type=int, default=50)
    m.add_argument("--k", type=int, default=None)
    m.add_argument("--b", type=int, default=None)
    m.add_argument("--radius", type=int, default=None)
    m.add_argument("--group", default=None)
    m.add_argument("--value", default=None)

    args = p.parse_args(argv)
    return {
        "list": cmd_list,
        "query": cmd_query,
        "sql": cmd_sql,
        "explain": cmd_explain,
        "text-stage": cmd_text_stage,
        "dedup": cmd_dedup,
        "er": cmd_er,
        "verify": cmd_verify,
        "monitor": cmd_monitor,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
