"""DDL / catalog lifecycle around the bulk load — the reference's
``list-entities``, ``extract-index``, ``drop-index``, ``create-index`` and
``handoff`` commands plus the deployment-schema lookup, as SQL generators.

These commands are orchestration, not dataflow: the engine emits the exact
SQL; execution goes through any Postgres client (``postgres.run_sql`` uses
psql).
Keeping them generator-pure makes every statement unit-testable without a
server — the same split the reference uses (its commands are thin wrappers
over SQL strings, e.g. drop-indexes.go:69-96).
"""

from __future__ import annotations

from ..schema.entities import EntityDesc, FieldType, parse_schema_file

# graph-node column types per GraphQL scalar (String/ID -> text,
# BigInt/BigDecimal -> numeric, Bytes -> bytea, Int -> integer,
# Float -> double precision, Boolean -> boolean)
_PG_TYPE = {
    FieldType.ID: "text",
    FieldType.STRING: "text",
    FieldType.INT: "integer",
    FieldType.FLOAT: "double precision",
    FieldType.BOOLEAN: "boolean",
    FieldType.BIGINT: "numeric",
    FieldType.BIGDECIMAL: "numeric",
    FieldType.BYTES: "bytea",
}

# indexes the drop step must keep: primary key + the block_range exclusion
# constraint — substring match, exactly as drop-indexes.go:90-92 does
PROTECTED_INDEX_MARKERS = ("pkey", "block_range_excl")


def list_entities(schema_file: str) -> list[str]:
    """``graphload list-entities``: snake_case table names from the GraphQL
    schema (ref cmd list-entities; schema/entities.go:138-183)."""
    return sorted(parse_schema_file(schema_file))


def create_table_ddl(desc: EntityDesc, pg_schema: str) -> str:
    """Graph-node-compatible table: ``id`` + ``block_range`` int4range for
    mutable entities, ``id`` + ``block$`` int8 for immutable ones, remaining
    columns alphabetical — the same column order the CSV carries
    (ref csvprocessor/writer.go:142-156)."""
    cols = ['"id" text NOT NULL']
    if desc.immutable:
        cols.append('"block$" int8 NOT NULL')
    else:
        cols.append('"block_range" int4range NOT NULL')
    for f in desc.ordered_fields():
        if f.name == "id":
            continue
        t = _PG_TYPE[f.type] + ("[]" if f.array else "")
        null = "" if f.nullable else " NOT NULL"
        cols.append(f'"{f.name}" {t}{null}')
    body = ",\n  ".join(cols)
    return f'CREATE TABLE "{pg_schema}"."{desc.name}" (\n  {body}\n)'


def deployment_schema_sql(deployment_hash: str) -> str:
    """deployment hash (Qm...) -> ``sgdN`` schema name lookup
    (ref schema/utils.go:9-19)."""
    return (
        "SELECT name FROM public.deployment_schemas "
        f"WHERE subgraph = '{deployment_hash}'"
    )


def extract_index_sql(pg_schema: str) -> str:
    """Schema-wide index inventory for later re-creation
    (ref extract-indexes.go:106: tablename, indexname, indexdef ordered)."""
    return (
        "SELECT tablename, indexname, indexdef FROM pg_indexes "
        f"WHERE schemaname = '{pg_schema}' ORDER BY tablename, indexname"
    )


def drop_index_sql(
    pg_schema: str,
    indexes: dict[str, list[str]],
    schema_tables: set[str] | None = None,
) -> list[str]:
    """DROP statements for every index except the protected ones
    (ref drop-indexes.go:69-96): anything containing ``pkey`` or
    ``block_range_excl`` stays (graph-node correctness depends on them),
    and only tables declared in the GraphQL schema are touched."""
    out = []
    for table, names in sorted(indexes.items()):
        if schema_tables is not None and table not in schema_tables:
            continue
        for ix in names:
            if any(m in ix for m in PROTECTED_INDEX_MARKERS):
                continue
            out.append(f'DROP INDEX IF EXISTS "{pg_schema}"."{ix}"')
    return out


def create_index_sql(index_defs: list[str], concurrent_connections: int = 10) -> list[list[str]]:
    """Round-robin the CREATE INDEX DDL over up to N parallel connections
    (ref create-indexes.go:114-156; postgres/utils.go:11 MAX_CONNECTIONS=10).
    Returns one statement list per connection."""
    lanes: list[list[str]] = [[] for _ in range(min(concurrent_connections, max(len(index_defs), 1)))]
    for i, stmt in enumerate(index_defs):
        lanes[i % len(lanes)].append(stmt)
    return [lane for lane in lanes if lane]


def handoff_sql(deployment_hash: str, block_num: int, block_hash: str) -> str:
    """``graphload handoff``: mark the subgraph's head block, hardcode
    entity_count=1000000, clear the firehose cursor so graph-node resumes
    from there (ref handoff.go:49-53; hash arrives 0x-stripped lowercase
    hex, handoff.go:32)."""
    h = block_hash.lower().removeprefix("0x")
    return (
        "UPDATE subgraphs.subgraph_deployment "
        f"set latest_ethereum_block_hash='{h}',"
        f"latest_ethereum_block_number={block_num},"
        "entity_count=1000000,firehose_cursor='' "
        f"where deployment='{deployment_hash}'"
    )
