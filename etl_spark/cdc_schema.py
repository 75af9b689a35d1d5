"""Shared CDC data model: binlog shape, schema-evolution op track.

The binlog is the engine's simulated WAL: one row per change event,
LSN-totally-ordered at emit time, payload carried as a JSON string so
the *physical* binlog schema stays fixed across schema-evolution
epochs (the standard Debezium/Maxwell envelope trick). Each event
records the `schema_version` its payload was written under; the parse
router (engine.apply) decodes by version and maps fields to the
current table schema by stable field ID — so replay stays
deterministic across renames regardless of arrival order
(SURVEY.md §7.2 "rename-column replay determinism").

The reference's analog is one JSON Kafka message per change with
topic-name routing (/root/reference/src/pipeline/core/kafka_multi_consumer.py:39-46)
and hand-maintained select/alias/cast blocks per entity
(/root/reference/src/pipeline/core/spark.py:108-121).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

from etl_spark.lake.table import Field

# Base logical schema of the transcripts table (BASELINE.json input_hint):
# (conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
#  ts). `ts` starts life as epoch-seconds long and is widened to
# timestamp by the canonical evolution script — the "type widen on ts"
# op — exercising cast-on-read over pre-widen data files.
BASE_FIELDS: list[tuple[str, str]] = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "long"),
]
KEY = ["conv_id", "turn_idx"]
BUCKET_BY = "conv_id"
BASE_VERSION = 1


@dataclass(frozen=True)
class SourceSpec:
    """One CDC-tracked entity: its base logical schema, merge key, and
    bucket column. The engine is a single parameterized pipeline — the
    reference hand-wrote one consumer/handler per topic
    (/root/reference/src/pipeline/core/client_clickhouse.py:39-58);
    here a spec value is the whole per-entity configuration, so N
    entities = N specs, optionally routed out of one shared log
    (engine.route)."""

    name: str
    base_fields: tuple[tuple[str, str], ...]
    key: tuple[str, ...]
    bucket_by: str
    # stable field ID of the text column to vectorized-normalize
    # (None = no normalization pass)
    normalize_field_id: int | None = None

    def binlog_schema(self) -> T.StructType:
        """Physical binlog frame for this entity: envelope columns +
        the key columns (payload carries the non-key fields)."""
        from etl_spark.lake.table import spark_type

        fields = [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),  # I | U | D
        ]
        types = dict(self.base_fields)
        for k in self.key:
            fields.append(T.StructField(k, spark_type(types[k]), False))
        fields += [
            T.StructField("op_ts", T.TimestampType(), False),
            T.StructField("schema_version", T.IntegerType(), False),
            T.StructField("payload", T.StringType(), True),  # JSON; null for D
        ]
        return T.StructType(fields)


TRANSCRIPTS = SourceSpec(
    "transcripts",
    tuple(BASE_FIELDS),
    tuple(KEY),
    BUCKET_BY,
    normalize_field_id=4,  # `text`
)


@dataclass(frozen=True)
class SchemaOp:
    """A schema-evolution op taking effect at `lsn`; events with
    schema_version >= `version` were written under it."""

    lsn: int
    kind: str  # add_column | rename_column | widen_type
    col: str
    new_name: str | None = None
    new_type: str | None = None
    version: int = 0  # schema version after applying this op


def canonical_ops(positions: list[int]) -> list[SchemaOp]:
    """The canonical evolution script (FIXTURES.md §3): add lang,
    rename tool->tool_name, widen ts long->timestamp, at the given
    LSN positions."""
    kinds = [
        dict(kind="add_column", col="lang", new_type="string"),
        dict(kind="rename_column", col="tool", new_name="tool_name"),
        dict(kind="widen_type", col="ts", new_type="timestamp"),
    ]
    return [
        SchemaOp(lsn=p, version=BASE_VERSION + 1 + i, **kinds[i])
        for i, p in enumerate(positions[: len(kinds)])
    ]


def fields_at_version(
    ops: list[SchemaOp],
    version: int,
    base_fields: list[tuple[str, str]] | tuple = None,
) -> list[Field]:
    """Logical table fields (with stable IDs) at a given schema version."""
    if base_fields is None:
        base_fields = BASE_FIELDS
    fields = [Field(i + 1, n, t) for i, (n, t) in enumerate(base_fields)]
    for op in sorted(ops, key=lambda o: o.version):
        if op.version > version:
            break
        if op.kind == "add_column":
            fields = fields + [Field(max(f.id for f in fields) + 1, op.col, op.new_type)]
        elif op.kind == "rename_column":
            fields = [
                Field(f.id, op.new_name if f.name == op.col else f.name, f.type)
                for f in fields
            ]
        elif op.kind == "widen_type":
            fields = [
                Field(f.id, f.name, op.new_type if f.name == op.col else f.type)
                for f in fields
            ]
        else:
            raise ValueError(op.kind)
    return fields


def version_at_lsn(ops: list[SchemaOp], lsn: int) -> int:
    v = BASE_VERSION
    for op in sorted(ops, key=lambda o: o.lsn):
        if lsn >= op.lsn:
            v = op.version
    return v


def payload_fields(
    ops: list[SchemaOp], version: int, spec: SourceSpec | None = None
) -> list[Field]:
    """Payload fields serialized in a version-`version` event's JSON:
    the logical fields minus the key columns. Types reflect the wire
    encoding: pre-widen `ts` is a long (epoch seconds); post-widen it
    is an ISO-8601 string."""
    if spec is None:
        spec = TRANSCRIPTS
    out = []
    for f in fields_at_version(ops, version, spec.base_fields):
        if f.name in spec.key:
            continue
        if f.type == "timestamp":
            out.append(Field(f.id, f.name, "string"))  # ISO on the wire
        else:
            out.append(f)
    return out
