"""Ingest dataflow operators (SURVEY.md §2 tier A), Spark-first.

The reference implements these imperatively across three services; here each
step is a declarative DataFrame transform so Catalyst can fuse, push down and
reorder them. Citations point at the reference behavior being replicated
(paths relative to /root/reference/):

- validity gate        publisher/internal/api/handler.go:59-81 (json.Valid)
- auth semi-join       publisher/internal/auth/auth.go:33-59
- lenient typed parse  consumer2/.../processing/MessageProcessor.kt:22-46
                       (ignoreUnknownKeys, all-nullable, drop-bad-continue)
- fixed projection     consumer/.../service/ClickHouseWriterService.kt:53-56,109-117
- enrichment           consumer2/.../persistence/ClickHouseRepository.kt:75
                       (receivedAt = now()); consumer/clickhouse/init-db.sh:28-29
                       (_raw_data, _received_at)

The validity decision is one stdlib function, :func:`json_kind`, shared with
the HTTP front door and reached from Spark through one Arrow UDF; the rest is
built-in expression work inside whole-stage codegen.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Typed event record: consumer2/.../data/IngestedData.kt:7-16 — every field
# nullable. `timestamp` stays a string at parse time (the reference stores it
# as Nullable(String) in init-clickhouse.sql:8).
INGESTED_DATA_SCHEMA = StructType(
    [
        StructField("sensorId", StringType(), True),
        StructField("temperature", DoubleType(), True),
        StructField("timestamp", StringType(), True),
        StructField("value", IntegerType(), True),
        StructField("message", StringType(), True),
    ]
)

# consumer 1 projection order: ClickHouseWriterService.kt:109-117
CONSUMER1_COLUMNS = ("sensor_id", "temperature", "timestamp", "humidity", "location")


def filter_nonempty(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """A2: reject empty bodies (handler.go:67-71)."""
    c = F.col(payload_col)
    return df.filter(c.isNotNull() & (F.length(c) > 0))


def _reject_constant(name: str) -> None:
    raise ValueError(f"{name} is not JSON")


# Built once: json.loads(s, **kw) constructs a decoder per call, 3.5x
# slower on short payloads. parse_int=float keeps integers longer than the
# interpreter's 4,300-digit int() limit valid, as they are in JSON.
_JSON_DECODER = json.JSONDecoder(parse_constant=_reject_constant, parse_int=float)
_JSON_KINDS = {
    dict: "object",
    list: "array",
    str: "string",
    float: "number",
    bool: "boolean",
    type(None): "null",
}


def json_kind(payload: str | bytes | None) -> str | None:
    """A3: the one JSON-validity decision (handler.go:74-78, Go json.Valid).

    Returns the kind of the single RFC 8259 value that spans ``payload``
    ("object", "array", "string", "number", "boolean" or "null"), or None
    when the payload is anything else: trailing garbage, ``NaN``/
    ``Infinity``, invalid UTF-8, a byte-order mark, raw control characters
    inside strings. Only space, tab, newline and carriage return count as
    surrounding whitespace. Nesting deeper than the interpreter's
    recursion limit (about 1,000 levels; Go allows 10,000) counts as
    invalid rather than failing the batch.

    The front door answers 400 on None; :func:`json_validity_gate` keeps
    the rows whose kind is not None and :func:`parse_typed` the "object"
    rows, both through ``udfs.json_kind_udf`` — so a 202-accepted object
    payload is never dropped for validity downstream.
    """
    if payload is None:
        return None
    try:
        if isinstance(payload, bytes):
            payload = payload.decode("utf-8")
        return _JSON_KINDS[type(_JSON_DECODER.decode(payload))]
    except (ValueError, RecursionError):
        return None


def json_validity_gate(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """A3: keep only payloads Go ``json.Valid`` accepts (handler.go:74-78):
    one whole-string JSON value of any kind, as :func:`json_kind` decides."""
    from .udfs import json_kind_udf

    return df.filter(json_kind_udf(F.col(payload_col).cast("string")).isNotNull())


def parse_typed(
    df: DataFrame,
    payload_col: str = "value",
    schema: StructType = INGESTED_DATA_SCHEMA,
) -> DataFrame:
    """A9/A13/A16: lenient typed JSON parse, malformed rows dropped not failed,
    raw payload kept as ``_raw_data`` (init-db.sh:28).

    `from_json` is natively lenient the same way kotlinx with
    ``ignoreUnknownKeys`` is: unknown keys ignored, missing keys → null.
    kotlinx ``decodeFromString<IngestedData>`` rejects anything but one
    whole JSON object ('null', '[1,2]', '{"sensorId":"G7"}invalid' in
    MessageProcessorTest.kt), so rows must be of kind "object" by
    :func:`json_kind`; the drop-don't-fail semantics of
    MessageProcessor.kt:36-46 become that filter plus a null check on the
    parsed struct.
    """
    from .udfs import json_kind_udf

    raw = F.col(payload_col).cast("string")
    return (
        df.filter(json_kind_udf(raw) == "object")
        .withColumn("_parsed", F.from_json(raw, schema))
        .filter(F.col("_parsed").isNotNull())
        .select("_parsed.*", raw.alias("_raw_data"))
    )


def parse_dynamic(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """A10: schema-free map parse (ClickHouseWriterService.kt:78-87).

    Jackson's ``Map<String, Any>`` becomes ``map<string,string>``; non-object
    or malformed payloads parse to null and are dropped (mapNotNull).
    """
    raw = F.col(payload_col).cast("string")
    out = df.withColumn("_map", F.from_json(raw, "map<string,string>"))
    return out.filter(F.col("_map").isNotNull())


def project_fixed(
    df: DataFrame, columns: tuple[str, ...] = CONSUMER1_COLUMNS
) -> DataFrame:
    """A11: schema-on-write fixed projection; absent keys surface as null.

    Works over either the typed-parse output (struct fields as columns) or
    the dynamic map (``_map`` column).
    """
    if "_map" in df.columns:
        return df.select(*[F.col("_map").getItem(c).alias(c) for c in columns])
    present = set(df.columns)
    return df.select(
        *[(F.col(c) if c in present else F.lit(None)).alias(c) for c in columns]
    )


def enrich_received_at(
    df: DataFrame, col_name: str = "received_at", with_epoch_ms: bool = False
) -> DataFrame:
    """A12: ingestion-timestamp enrichment (ClickHouseRepository.kt:75).

    ``with_epoch_ms`` adds ``{col_name}_ms``: the TRUE-INSTANT epoch
    milliseconds via :func:`functions.temporal.epoch_ms_instant` — the
    external-export flavor (JDBC / cross-system joins key on the point
    on the timeline, not the session wall clock). The oracle-contract
    ``epoch_ms`` is deliberately NOT used here: sink rows leave the
    session, so wall-clock recovery would be wrong off-UTC.
    """
    out = df.withColumn(col_name, F.current_timestamp())
    if with_epoch_ms:
        from ..functions.temporal import epoch_ms_instant

        out = out.withColumn(f"{col_name}_ms", epoch_ms_instant(col_name))
    return out


def observe_parse_quality(
    df: DataFrame, payload_col: str = "value", name: str = "parse"
) -> DataFrame:
    """A16: per-batch valid/invalid counts without a second pass.

    The reference counts and logs parse failures per batch
    (MessageProcessor.kt:33-52). `observe` attaches the metric to the same
    scan — zero extra jobs; read via QueryExecutionListener /
    StreamingQueryListener.
    """
    from .udfs import json_kind_udf

    kind = json_kind_udf(F.col(payload_col).cast("string"))
    return (
        df.withColumn("_json_kind", kind)
        .observe(
            name,
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("_json_kind").isNull(), 1)).alias("invalid"),
        )
        .drop("_json_kind")
    )


def auth_gate(
    events: DataFrame,
    api_keys: DataFrame,
    event_key: str | Column = "api_key",
    dim_key: str = "api_key",
    active_col: str = "is_active",
) -> DataFrame:
    """A4/A5: API-key auth as a broadcast left-semi join.

    The reference does `SELECT EXISTS(... WHERE api_key=$1 AND is_active)`
    per request (auth.go:38) behind an LRU+TTL cache (caching.go:43-77).
    Distributed equivalent: broadcast the (small) active-keys dimension and
    semi-join — the broadcast is shipped once per executor and reused across
    micro-batches, subsuming the cache. At 100 TB of events this never
    shuffles the fact side.
    """
    # alias to a private name: the fact side often carries the same column
    # name (api_key == api_key would be ambiguous)
    keys = api_keys.filter(F.col(active_col)).select(F.col(dim_key).alias("__auth_key"))
    ek = F.col(event_key) if isinstance(event_key, str) else event_key
    return events.join(
        F.broadcast(keys), on=ek == F.col("__auth_key"), how="left_semi"
    )


def auth_rejects(
    events: DataFrame,
    api_keys: DataFrame,
    event_key: str | Column = "api_key",
    dim_key: str = "api_key",
    active_col: str = "is_active",
) -> DataFrame:
    """Complement of :func:`auth_gate` — the 401 path (handler.go:41-56)."""
    keys = api_keys.filter(F.col(active_col)).select(F.col(dim_key).alias("__auth_key"))
    ek = F.col(event_key) if isinstance(event_key, str) else event_key
    return events.join(
        F.broadcast(keys), on=ek == F.col("__auth_key"), how="left_anti"
    )
