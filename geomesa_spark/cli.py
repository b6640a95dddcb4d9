"""Command-line tools — the geomesa-tools analog (reference:
geomesa-tools .../tools/, commands ingest/export/stats/compact and the
query runner). One entry point::

    python -m geomesa_spark <command> [args]
    # or from spark-submit:
    spark-submit --py-files engine.zip -m ...  (scripts/pip_job.py shows
    the --py-files deployment; the CLI builds its own local session when
    none exists)

Commands:

- ``ingest``   read csv/json/geojson/fixedwidth/xml/shp/parquet through a
               converter spec (JSON: {"fields": {...}, "required": [...]}),
               write a z2-indexed store (plans/store.write_indexed).
- ``export``   read a store/parquet, optional ECQL filter, write
               csv/parquet/geojson/arrow/leaflet.
- ``query``    ECQL over a store; prints rows as JSON lines (bounded).
- ``stats``    Stat-DSL string over a store (operators/stats.run_stats).
- ``compact``  bin-pack a partitioned store (plans/store.compact_store).

Every command is a thin argparse shim over the library operators — no
logic lives here, so anything the CLI does is equally scriptable.
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(cpus: int | None = None):
    from geomesa_spark import get_spark
    from geomesa_spark.functions import register_functions

    spark = get_spark("geomesa-cli", cpus=cpus or 4,
                      shuffle_partitions=(cpus or 4) * 2)
    register_functions(spark)
    return spark


def _read_source(spark, fmt: str, path: str, spec: dict):
    from geomesa_spark.sources.converter import read_and_convert
    from geomesa_spark.sources.shapefile import read_shapefile

    if fmt == "shp":
        from geomesa_spark.sources.converter import convert

        df = read_shapefile(spark, path)
        if spec.get("fields"):
            df = convert(df, spec["fields"], spec.get("required"),
                         spec.get("error_mode", "raise"))
        return df
    return read_and_convert(spark, fmt, path, spec["fields"],
                            spec.get("required"),
                            spec.get("error_mode", "raise"),
                            spec.get("reader_options"))


def cmd_ingest(args) -> int:
    from geomesa_spark.plans.store import write_indexed

    spark = _session(args.cpus)
    spec = json.loads(open(args.spec).read()) if args.spec else {"fields": {}}
    df = _read_source(spark, args.format, args.input, spec)
    width = {} if args.digits is None else {"digits": args.digits}
    write_indexed(df, args.out, x=args.x, y=args.y, **width)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"ingested": n, "store": args.out}))
    return 0


def _load_store(spark, path: str, cql: str | None, x: str, y: str):
    from geomesa_spark.functions.cql import cql_filter
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if cql:
        df = df.withColumn("geom", F.expr(f"st_makePoint({x}, {y})"))
        df = cql_filter(df, cql).drop("geom")
    return df


def cmd_export(args) -> int:
    from geomesa_spark.operators import sinks

    spark = _session(args.cpus)
    df = _load_store(spark, args.input, args.cql, args.x, args.y)
    fmt = args.format
    if fmt == "csv":
        sinks.write_csv(df, args.out)
    elif fmt == "parquet":
        sinks.write_parquet(df, args.out)
    elif fmt == "geojson":
        sinks.write_geojson(df, args.out, x=args.x, y=args.y)
    elif fmt == "arrow":
        sinks.write_arrow_ipc(df, args.out)
    elif fmt == "leaflet":
        sinks.write_leaflet(df, args.out, x=args.x, y=args.y)
    else:
        print(f"unknown export format {fmt}", file=sys.stderr)
        return 2
    print(json.dumps({"exported": df.count(), "out": args.out, "fmt": fmt}))
    return 0


def cmd_query(args) -> int:
    spark = _session(args.cpus)
    df = _load_store(spark, args.input, args.cql, args.x, args.y)
    rows = df.limit(args.max_rows).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(json.dumps({"count": df.count()}), file=sys.stderr)
    return 0


def cmd_stats(args) -> int:
    from geomesa_spark.operators.stats import run_stats

    spark = _session(args.cpus)
    df = _load_store(spark, args.input, args.cql, args.x, args.y)
    out = run_stats(df, args.stats)
    print(json.dumps(out, default=str))
    return 0


def cmd_compact(args) -> int:
    from geomesa_spark.plans.store import compact_store

    spark = _session(args.cpus)
    stats = compact_store(spark, args.input, args.partition_cols.split(","),
                          sort_by=args.sort_by.split(",") if args.sort_by
                          else None)
    print(json.dumps(stats))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="geomesa_spark",
                                description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, store_in=True):
        sp.add_argument("--cpus", type=int, default=None)
        sp.add_argument("--x", default="lon")
        sp.add_argument("--y", default="lat")
        if store_in:
            sp.add_argument("--input", required=True)
            sp.add_argument("--cql", default=None)

    sp = sub.add_parser("ingest")
    sp.add_argument("--format", required=True,
                    choices=["csv", "json", "parquet", "geojson",
                             "fixedwidth", "xml", "shp"])
    sp.add_argument("--input", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--spec", default=None,
                    help="JSON file: {fields, required, error_mode, "
                         "reader_options}")
    sp.add_argument("--digits", type=int, default=None,
                    help="hex chars of the partition prefix "
                         "(default: the store default, plans/store.DIGITS)")
    sp.add_argument("--cpus", type=int, default=None)
    sp.add_argument("--x", default="lon")
    sp.add_argument("--y", default="lat")
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser("export")
    common(sp)
    sp.add_argument("--format", required=True,
                    choices=["csv", "parquet", "geojson", "arrow", "leaflet"])
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_export)

    sp = sub.add_parser("query")
    common(sp)
    sp.add_argument("--max-rows", type=int, default=100)
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("stats")
    common(sp)
    sp.add_argument("--stats", required=True,
                    help="Stat DSL, e.g. 'MinMax(lon);Count()'")
    sp.set_defaults(fn=cmd_stats)

    sp = sub.add_parser("compact")
    sp.add_argument("--input", required=True)
    sp.add_argument("--partition-cols", default="z2_p")
    sp.add_argument("--sort-by", default="z2_hex")
    sp.add_argument("--cpus", type=int, default=None)
    sp.set_defaults(fn=cmd_compact)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
