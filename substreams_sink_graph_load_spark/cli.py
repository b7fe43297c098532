"""``graphload``-compatible command-line surface (ref main.go:26-35:
run, tocsv, inject-csv, handoff, list-entities, extract-index, drop-index,
create-index).

A reference user maps each command 1:1:

    python -m substreams_sink_graph_load_spark run <wire.jsonl> <dest> <schema.graphql> <stop>
    python -m substreams_sink_graph_load_spark tocsv <src> <dest> <entity> <schema.graphql> <stop>
    python -m substreams_sink_graph_load_spark inject-csv <sgdN> <input> <entity> <schema.graphql> <dsn> <start> <stop>
    python -m substreams_sink_graph_load_spark handoff <Qm...> <block_hash> <block_num>
    python -m substreams_sink_graph_load_spark list-entities <schema.graphql>
    python -m substreams_sink_graph_load_spark extract-index <sgdN>
    python -m substreams_sink_graph_load_spark drop-index <sgdN> <schema.graphql> <tbl:idx,...>
    python -m substreams_sink_graph_load_spark create-index <ddl-file>

SQL-emitting commands print their statements (pipe to psql); data commands
run Spark jobs.  ``run`` reads a wire JSONL file, the stand-in for the
reference's gRPC stream, in one batch (streaming/ingest.py); it resumes by
``--start-block`` + ``--start-poi``, as the reference does.  A fatal input
(a ``ValueError``) is printed by ``python -m`` as one
``graphload-spark: error:`` line with exit status 1; :func:`main` raises it.
"""

from __future__ import annotations

import argparse
import sys


def _spark():
    from .session import get_spark

    spark = get_spark(app_name="graphload-spark")
    # A failed task reaches the user as the job's exception; its log copies
    # with the full Java stack (executor, write task, write job) only bury
    # that line (the task set's one-line abort notice stays).
    log4j = spark._jvm.org.apache.logging.log4j
    set_level = log4j.core.config.Configurator.setLevel
    for logger in ("executor.Executor", "util.Utils",
                   "sql.execution.datasources.FileFormatWriter"):
        set_level(f"org.apache.spark.{logger}", log4j.Level.FATAL)
    set_level("org.apache.spark.scheduler.TaskSetManager", log4j.Level.ERROR)
    return spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="graphload-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("run", help="wire stream -> bundled JSONL + poi2$ + last_block.txt")
    sp.add_argument("wire"), sp.add_argument("dest")
    sp.add_argument("schema", nargs="?", default=None)
    sp.add_argument("stop_block", type=int)
    sp.add_argument("--bundle-size", type=int, default=1000)
    sp.add_argument("--chain-id", default=None)
    # reference run.go:48-52 flag parity
    sp.add_argument("--entities", default=None,
                    help="comma-separated entity list (alternative to the schema arg)")
    sp.add_argument("--start-block", type=int, default=None,
                    help="start at this block (must align to --bundle-size)")
    sp.add_argument("--start-poi", default=None,
                    help="hex POI digest of the last block before --start-block")
    sp.add_argument("--working-dir", default=None,
                    help="staging directory, overwritten by each run "
                         "(default: <dest>/_work_ingest)")

    sp = sub.add_parser("tocsv", help="bundled JSONL -> versioned CSV bundles")
    sp.add_argument("src"), sp.add_argument("dest"), sp.add_argument("entity")
    sp.add_argument("schema"), sp.add_argument("stop_block", type=int)
    sp.add_argument("--bundle-size", type=int, default=1000)

    sp = sub.add_parser("tocsv-all", help="tocsv for every schema entity in one app")
    sp.add_argument("src"), sp.add_argument("dest"), sp.add_argument("schema")
    sp.add_argument("stop_block", type=int)
    sp.add_argument("--bundle-size", type=int, default=1000)

    sp = sub.add_parser("inject-csv", help="COPY bundled CSVs into Postgres")
    for a in ("pg_schema", "input", "entity", "schema", "dsn"):
        sp.add_argument(a)
    sp.add_argument("start_block", type=int), sp.add_argument("stop_block", type=int)
    sp.add_argument("--print-sql", action="store_true",
                    help="emit the COPY statements instead of executing")

    sp = sub.add_parser("handoff")
    sp.add_argument("deployment"), sp.add_argument("block_hash")
    sp.add_argument("block_num", type=int)

    sp = sub.add_parser("list-entities")
    sp.add_argument("schema")

    sp = sub.add_parser("extract-index")
    sp.add_argument("pg_schema")
    sp.add_argument("dsn", nargs="?", default=None,
                    help="when given, fetch live from this Postgres instead of printing the SQL")
    sp.add_argument("schema", nargs="?", default=None,
                    help="GraphQL schema: restrict to its entity tables (ref extract-indexes.go:98-104)")
    sp.add_argument("--save", action="store_true",
                    help="write index defs to ./create_indexes.ddl (ref extract-indexes.go:141-147)")

    sp = sub.add_parser("drop-index")
    sp.add_argument("pg_schema"), sp.add_argument("schema")
    sp.add_argument("indexes", help="comma list of table:index pairs")

    sp = sub.add_parser("create-index")
    sp.add_argument("ddl_file"), sp.add_argument("--connections", type=int, default=10)

    args = p.parse_args(argv)

    if args.cmd == "list-entities":
        from .sinks.ddl import list_entities

        for e in list_entities(args.schema):
            print(e)
        return 0

    if args.cmd == "handoff":
        from .sinks.ddl import handoff_sql

        print(handoff_sql(args.deployment, args.block_num, args.block_hash))
        return 0

    if args.cmd == "extract-index":
        from .sinks.ddl import extract_index_sql

        if args.dsn is None:
            # print-SQL mode: pipe to psql (no live server assumed)
            print(extract_index_sql(args.pg_schema))
            return 0
        # live mode, reference-format output (extract-indexes.go:31-45);
        # defs are collected with the trailing ';' the save file needs
        from .sinks.ddl import deployment_schema_sql, list_entities
        from .sinks.postgres import run_sql

        # sgd schema passes through; a Qm deployment hash is resolved via
        # public.deployment_schemas; anything else is an error
        # (ref extract-indexes.go:74-92, schema/utils.go:9-19)
        pg_schema = args.pg_schema
        if pg_schema.startswith("Qm"):
            rows = run_sql(args.dsn, deployment_schema_sql(pg_schema))
            if not rows:
                raise SystemExit(
                    f"no schema found for deployment hash {pg_schema!r}"
                )
            pg_schema = rows[0][0]
        elif not pg_schema.startswith("sgd"):
            raise SystemExit(
                f"invalid value for first parameter: {pg_schema!r}, should be "
                "either a postgresql schema (ex: sgd1) or a deployment Qm hash"
            )
        tables = set(list_entities(args.schema)) if args.schema else None
        by_table: dict[str, list[tuple[str, str]]] = {}
        for tablename, indexname, indexdef in run_sql(
            args.dsn, extract_index_sql(pg_schema)
        ):
            if tables is not None and tablename not in tables:
                continue
            by_table.setdefault(tablename, []).append(
                (indexname, indexdef + ";")
            )
        for tbl in sorted(by_table):
            print("====> table ", tbl)
            for name, idef in by_table[tbl]:
                print(f"=> indexName {name} indexDef {idef}")
        if args.save:
            with open("./create_indexes.ddl", "w") as fh:
                for tbl in sorted(by_table):
                    for _, idef in by_table[tbl]:
                        fh.write(idef + "\n")
        return 0

    if args.cmd == "drop-index":
        from .sinks.ddl import drop_index_sql, list_entities

        by_table: dict[str, list[str]] = {}
        for pair in args.indexes.split(","):
            tbl, idx = pair.split(":", 1)
            by_table.setdefault(tbl, []).append(idx)
        for stmt in drop_index_sql(
            args.pg_schema, by_table, set(list_entities(args.schema))
        ):
            print(stmt + ";")
        return 0

    if args.cmd == "create-index":
        from .sinks.ddl import create_index_sql

        if not args.ddl_file.endswith(".ddl"):
            # ref create-indexes.go:30-32
            raise SystemExit("create indexes file is not a ddl file")
        with open(args.ddl_file) as fh:
            defs = [l.strip().rstrip(";") for l in fh if l.strip()]
        for lane_no, lane in enumerate(create_index_sql(defs, args.connections)):
            for stmt in lane:
                print(f"-- lane {lane_no}\n{stmt};")
        return 0

    if args.cmd == "run":
        from .schema.entities import parse_schema_file
        from .streaming.ingest import read_last_block, run_ingest

        # exactly one of schema / --entities (ref run.go:126-136)
        if args.schema and args.entities:
            raise SystemExit(
                "you must only use one of: the schema argument or '--entities'"
            )
        if args.schema:
            entities = sorted(parse_schema_file(args.schema))
        elif args.entities:
            entities = sorted(
                s.strip() for s in args.entities.split(",") if s.strip()
            )
        else:
            raise SystemExit(
                "you must set one of: the schema argument or '--entities'"
            )
        # resume contract (ref run.go:76-99): start block aligns to the
        # bundle boundary and carries the prior POI digest
        start_poi = None
        first_block = 0
        if args.start_block is not None:
            if args.start_block % args.bundle_size:
                raise SystemExit(
                    f"provided startBlock {args.start_block!r} is not aligned "
                    f"with the bundleSize boundary {args.bundle_size}"
                )
            if not args.start_poi:
                raise SystemExit(
                    "when providing a start-block, you must also provide "
                    "the start-poi"
                )
            try:
                start_poi = bytes.fromhex(args.start_poi)
            except ValueError as exc:
                raise SystemExit(
                    f"cannot decode startPOI {args.start_poi!r}: {exc}"
                )
            first_block = args.start_block
        elif args.start_poi:
            raise SystemExit("start-poi requires --start-block")

        spark = _spark()
        # 15 s throughput heartbeat (ref sinker/stats.go cadence)
        from .streaming.stats import ProgressReporter

        with ProgressReporter(spark, "run") as rep:
            files = run_ingest(
                spark,
                args.dest,
                entities=entities,
                stop_block=args.stop_block,
                wire_path=args.wire,
                bundle_size=args.bundle_size,
                chain_id=args.chain_id,
                start_poi=start_poi,
                first_block=first_block,
                workdir=args.working_dir,
            )
            rep.stop(
                bundles=sum(len(fs) for fs in files.values()),
                last_block=read_last_block(args.dest),
            )
        for ent, fs in sorted(files.items()):
            print(f"{ent}: {len(fs)} bundles")
        return 0

    if args.cmd == "tocsv":
        from .streaming.stats import ProgressReporter
        from .tocsv import tocsv

        spark = _spark()
        with ProgressReporter(spark, f"tocsv {args.entity}"):
            files = tocsv(
                spark, args.src, args.dest, args.entity, args.schema,
                stop_block=args.stop_block, bundle_size=args.bundle_size,
            )
        for f in files:
            print(f)
        return 0

    if args.cmd == "tocsv-all":
        from .streaming.stats import ProgressReporter
        from .tocsv import tocsv_all

        spark = _spark()
        with ProgressReporter(spark, "tocsv-all"):
            for ent, fs in sorted(
                tocsv_all(
                    spark, args.src, args.dest, args.schema,
                    stop_block=args.stop_block, bundle_size=args.bundle_size,
                ).items()
            ):
                print(f"{ent}: {len(fs)} bundles")
        return 0

    if args.cmd == "inject-csv":
        from .schema.entities import parse_schema_file
        from .sinks.postgres import (
            build_copy_sql,
            force_not_null_columns,
            inject_csv_files,
            list_candidate_files,
            validate_csv_header,
        )

        desc = parse_schema_file(args.schema)[args.entity]
        files = list_candidate_files(
            f"{args.input.rstrip('/')}/{args.entity}", args.start_block, args.stop_block
        )
        if not files:
            print("no candidate files", file=sys.stderr)
            return 1
        if args.print_sql:
            cols = validate_csv_header(files[0], desc)
            stmt = build_copy_sql(
                args.pg_schema, args.entity, cols, force_not_null_columns(desc)
            )
            for f in files:
                print(f"\\copy: {f}\n{stmt};")
            return 0
        spark = _spark()
        n = inject_csv_files(
            spark, files, args.dsn, args.pg_schema, args.entity, desc
        )
        print(f"injected {n} files")
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
