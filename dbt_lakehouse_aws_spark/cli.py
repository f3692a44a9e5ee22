"""Command-line entry points — the engine's `dbt build` + serving app.

    python -m dbt_lakehouse_aws_spark run \
        --raw-dir /lake/raw --out-dir /lake/marts --league oc

reads the raw CSV/TSV ingest tree (the reference's S3 layout:
``<table>/year=YYYY/month=M/day=D/<file>``), reading only the files
each source's snapshot semantics keep (``sources/reader.py``), runs the full SGP DAG under its one lineage
policy (shared models localCheckpointed, the rest lazy; see
``plans/graph.py``), and writes the marts as parquet — the
equivalent of the reference's ``dbt build`` (SURVEY §3.1).

    python -m dbt_lakehouse_aws_spark serve \
        --marts-dir /lake/marts --league oc --limit 20 --search trout

is the serving query surface (§3.2): projected, filtered, ordered
rankings printed to stdout.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

#: pipeline source name → (raw-tree subdirectory, format, reader mode);
#: FIXTURES.md layout, modes as in ``sources.reader.MODES``
RAW_TABLES = {
    "standings": ("nfbc_standings", "csv", "history"),
    "players": ("nfbc_players", "csv", "latest"),
    "id_map": ("player_id_map", "csv", "plain"),
    "fg_hitting": ("fangraphs_projections_preseason_hitting", "csv", "latest"),
    "fg_pitching": ("fangraphs_projections_preseason_pitching", "csv", "latest"),
    "razzball_hitting": ("razzball_projections_preseason_hitting", "csv", "latest"),
    "razzball_pitching": ("razzball_projections_preseason_pitching", "csv", "latest"),
    "adp": ("nfbc_adp", "tsv", "latest_per_file"),
    "rosters": ("fangraphs_rosters", "csv", "latest"),
}

#: models written to --out-dir by `run`
MART_OUTPUTS = ("overall_rankings", "factors_wide", "sgp_percentiles")


def load_raw_sources(spark: SparkSession, raw_dir: str):
    """The build's source frames, read through the bounded session of
    ``spark`` (``session.bounded_session``): every model and mart
    write built from them plans and runs under its conf."""
    from dbt_lakehouse_aws_spark.session import bounded_session
    from dbt_lakehouse_aws_spark.sources import reader

    spark = bounded_session(spark)
    return {
        name: reader.read_csv_source(
            spark, f"{raw_dir}/{subdir}", sep="\t" if fmt == "tsv" else ",", mode=mode
        )
        for name, (subdir, fmt, mode) in RAW_TABLES.items()
    }


def cmd_run(args) -> int:
    from dbt_lakehouse_aws_spark.session import get_spark
    from dbt_lakehouse_aws_spark.sgp.config import LEAGUES
    from dbt_lakehouse_aws_spark.sgp.pipeline import run_pipeline

    spark = get_spark("sgp-run")
    cfg = LEAGUES[args.league]
    sources = load_raw_sources(spark, args.raw_dir)
    out = run_pipeline(cfg, sources)
    for mart in MART_OUTPUTS:
        path = f"{args.out_dir}/{args.league}/{mart}"
        out[mart].write.mode("overwrite").parquet(path)
        print(f"wrote {path}")
    return 0


def cmd_serve(args) -> int:
    from dbt_lakehouse_aws_spark.serving.api import apply_filters, rankings_scan
    from dbt_lakehouse_aws_spark.session import get_spark

    spark = get_spark("sgp-serve")
    mart = spark.read.parquet(f"{args.marts_dir}/{args.league}/overall_rankings")
    df = rankings_scan(mart)
    df = apply_filters(
        df,
        search=args.search,
        positions=args.position or None,
        teams=args.team or None,
    )
    rows = df.limit(args.limit).toPandas()
    print(rows.to_string(index=False, max_colwidth=24))
    return 0


def cmd_table(args) -> int:
    """ACID table admin: history / optimize / vacuum / changes."""
    from dbt_lakehouse_aws_spark.session import get_spark
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    table = AcidTable(get_spark("table-admin"), args.path)
    if args.table_cmd == "history":
        for s in table.history():
            print(f"v{s.version}\t{len(s.files)} files\t{s.operation}")
    elif args.table_cmd == "optimize":
        snap = table.optimize(
            target_file_bytes=args.target_mb << 20,
            zorder_by=args.zorder.split(",") if args.zorder else None,
        )
        print(snap.operation)
    elif args.table_cmd == "vacuum":
        removed = table.vacuum(retain_last=args.retain)
        print(f"removed {len(removed)} data files")
    elif args.table_cmd == "changes":
        table.row_changes(args.v_from, args.v_to, args.keys.split(",")).show(
            100, truncate=False
        )
    elif args.table_cmd == "restore":
        snap = table.restore(args.version)
        print(f"v{snap.version}\t{snap.operation}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbt_lakehouse_aws_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="build the SGP marts from a raw ingest tree")
    runp.add_argument("--raw-dir", required=True)
    runp.add_argument("--out-dir", required=True)
    runp.add_argument("--league", choices=("oc", "50s"), default="oc")
    runp.set_defaults(fn=cmd_run)

    servep = sub.add_parser("serve", help="query the rankings mart")
    servep.add_argument("--marts-dir", required=True)
    servep.add_argument("--league", choices=("oc", "50s"), default="oc")
    servep.add_argument("--limit", type=int, default=20)
    servep.add_argument("--search")
    servep.add_argument("--position", action="append")
    servep.add_argument("--team", action="append")
    servep.set_defaults(fn=cmd_serve)

    tablep = sub.add_parser("table", help="ACID table admin")
    tsub = tablep.add_subparsers(dest="table_cmd", required=True)
    for name in ("history", "optimize", "vacuum", "changes", "restore"):
        tp = tsub.add_parser(name)
        tp.add_argument("--path", required=True)
        if name == "optimize":
            tp.add_argument("--target-mb", type=int, default=128)
            tp.add_argument("--zorder")
        elif name == "vacuum":
            tp.add_argument("--retain", type=int, default=1)
        elif name == "changes":
            tp.add_argument("--from", dest="v_from", type=int, required=True)
            tp.add_argument("--to", dest="v_to", type=int, required=True)
            tp.add_argument("--keys", required=True)
        elif name == "restore":
            tp.add_argument("--version", type=int, required=True)
    tablep.set_defaults(fn=cmd_table)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
