"""The reference's streaming ETL path as one Structured Streaming query
(SURVEY.md §2 tier A, §3.2).

Reference dataflow (consumer2, /root/reference/consumer2/src/main/kotlin/
com/yourcompany/kafka/clickhouse/):

  KafkaConsumer.poll → buffer (100 msgs / 5 s)   KafkaMessageConsumer.kt:30-83
  → lenient typed parse, drop-bad               processing/MessageProcessor.kt:22-46
  → batched JDBC INSERT                          persistence/ClickHouseRepository.kt:55-97
  → commit offsets only after successful write   KafkaMessageConsumer.kt:93-129

Spark mapping: each micro-batch IS the reference's hand-rolled
size-or-time buffer (A8); checkpointing replaces group-offset commits and
gives the same at-least-once contract (A15) — a failed batch is replayed,
and like the reference, replays can duplicate rows in the sink. The
optional `dedupe_replays` flag upgrades to effectively-once by dropping
batch-ids that already committed (the §4 "custom work #1" improvement the
reference lacks).

The transform chain reuses the batch operators (operators/ingest.py)
verbatim — one definition of the semantics for both execution modes.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import ingest
from ..plans.layout import write_clustered

# Config parity with the reference (BASELINE.md):
MAX_OFFSETS_PER_TRIGGER = 100  # max.poll.records=100, KafkaMessageConsumer.kt:41
TRIGGER_INTERVAL = "5 seconds"  # size-or-time flush, KafkaMessageConsumer.kt:30-31
KAFKA_TOPIC = "ingest-topic"  # docker-compose.yml:46
AUTH_CACHE_TTL_SECONDS = 3600.0  # AUTH_CACHE_TTL 60m default, config.go:18-20
# Retry parity: the reference's error handler is a stock Spring
# DefaultErrorHandler() (KafkaConsumerConfig.kt:53-70), whose default
# backoff is FixedBackOff(interval=0ms, maxRetries=9) — 10 delivery
# attempts, no wait between them, then the recoverer (here: dead-letter).
DEFAULT_MAX_RETRIES = 9
DEFAULT_RETRY_BACKOFF_MS = 0


class RefreshingAuthKeys:
    """A5 TTL parity for long-running streams (publisher/internal/auth/
    caching.go:43, config defaults publisher/internal/config/config.go:18-20).

    For a batch query, broadcasting the keys dimension subsumes the
    reference's LRU cache — but a streaming query analyzes its plan once,
    so a plain broadcast would keep a revoked key valid for the life of
    the query. The reference expires cache entries within the TTL (60 min
    default); this wrapper gives the same contract by re-invoking
    ``loader`` (any ``() -> DataFrame`` that reads the keys table) at most
    once per ``ttl_seconds`` and serving the cached frame in between.
    Call :meth:`current` inside ``foreachBatch`` so each micro-batch
    authenticates against keys at most one TTL stale.
    """

    def __init__(
        self,
        loader: Callable[[], DataFrame],
        ttl_seconds: float = AUTH_CACHE_TTL_SECONDS,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self._loader = loader
        self._ttl = ttl_seconds
        self._clock = clock
        self._df: DataFrame | None = None
        self._loaded_at = float("-inf")

    def current(self) -> DataFrame:
        now = self._clock()
        if self._df is None or (now - self._loaded_at) >= self._ttl:
            self._df = self._loader()
            self._loaded_at = now
        return self._df


def kafka_reader_options(
    brokers: str,
    topic: str = KAFKA_TOPIC,
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """A7 consumer config as a plain dict — value-checkable WITHOUT the
    spark-sql-kafka jar (VERDICT r2 #8), so config drift can't hide
    behind the classpath skip. Parity (BASELINE.md):

    - `startingOffsets=earliest` ⇔ `auto.offset.reset=earliest`
      (KafkaConsumerConfig.kt:43)
    - `maxOffsetsPerTrigger=100` ⇔ `max.poll.records=100`
      (KafkaMessageConsumer.kt:41)
    - offsets committed via the checkpoint after the sink write ⇔
      `enable.auto.commit=false` + manual commit-after-write
    """
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "maxOffsetsPerTrigger": str(MAX_OFFSETS_PER_TRIGGER),
    }


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str = KAFKA_TOPIC,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """A7: the Kafka source (auto.offset.reset=earliest parity).

    Offsets live in the checkpoint, not the consumer group — Spark's
    equivalent of enable.auto.commit=false + manual commit-after-write.
    Requires the spark-sql-kafka package on the classpath; tests use
    :func:`file_source` (same downstream contract: a `value` column).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(brokers, topic, starting_offsets).items():
        reader = reader.option(k, v)
    return reader.load()


def file_source(spark: SparkSession, path: str) -> DataFrame:
    """CI stand-in for the Kafka topic: a directory of text files, one JSON
    payload per line, surfaced with the same `value` column contract."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )


def ingest_transform(raw: DataFrame) -> DataFrame:
    """A2/A3/A9/A12/A13: the per-record pipeline, identical to batch mode.

    received_at_ms rides along as the true-instant epoch export
    (functions/temporal.epoch_ms_instant): pipeline rows land in
    external sinks (parquet + JDBC), where cross-system consumers join
    on UTC epochs, not session wall clocks.
    """
    df = ingest.filter_nonempty(raw, "value")
    df = ingest.parse_typed(df, "value")
    return ingest.enrich_received_at(df, with_epoch_ms=True)


def _parquet_data_files(data_dir: str) -> set[str]:
    out: set[str] = set()
    if not os.path.isdir(data_dir):
        return out
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.add(os.path.join(root, f))
    return out


def _parquet_rows(files: set[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def foreach_batch_writer(
    out_path: str,
    dedupe_replays: bool = False,
    auth: RefreshingAuthKeys | None = None,
    auth_key_col: str = "sensorId",
    verify_rows: bool = False,
    max_retries: int | None = None,
    retry_backoff_ms: int = DEFAULT_RETRY_BACKOFF_MS,
):
    """A14/A15: the micro-batch sink.

    Append-mode parquet write laid out per the MergeTree DDL analog
    (plans/layout.py). With ``dedupe_replays`` the batch id is recorded in a
    ledger directory and re-delivered batches are skipped — idempotent
    writes on top of at-least-once delivery.

    ``auth`` applies the broadcast semi-join auth gate *inside* the batch
    against :meth:`RefreshingAuthKeys.current`, so key revocation
    propagates within one TTL (streaming analog of caching.go's expiring
    entries). In production the key rides a Kafka header or payload
    field; ``auth_key_col`` names it.

    ``verify_rows`` is the ClickHouseWriterService.kt:61-65 rows-affected
    sanity check: count the rows the batch should persist, count the rows
    the new parquet files actually hold (footer metadata — no data read),
    and raise on mismatch so the batch stays uncommitted and is replayed.
    The pre-count is a second pass over a (≤100-row) micro-batch, the same
    price the reference pays for its rows-affected array; at larger batch
    sizes hang the count on ``df.observe`` instead.

    ``max_retries`` models the reference's bounded-retry-then-surface
    error handling (consumer/.../KafkaConsumerConfig.kt:53-70
    ``DefaultErrorHandler``: N redeliveries, then the batch moves on).
    Spark's native contract is retry-forever (every restart replays the
    failed batch); with ``max_retries`` set, a batch that has already
    failed that many times is instead diverted whole to
    ``<out_path>/dead_letter`` and the stream commits past it — the
    dead-letter-queue upgrade of the reference's log-and-continue
    recoverer. Attempt counts persist in ``<out_path>/_attempts`` so the
    budget survives query restarts.

    ``retry_backoff_ms`` is the FixedBackOff interval between
    redeliveries; ``max_retries=DEFAULT_MAX_RETRIES`` (9) with the
    default 0 ms interval reproduces the stock Spring
    ``DefaultErrorHandler()`` schedule exactly: 10 delivery attempts,
    no wait, then recover.
    """
    ledger = os.path.join(out_path, "_batch_ledger")
    data_dir = os.path.join(out_path, "data")
    attempts_dir = os.path.join(out_path, "_attempts")
    dead_letter_dir = os.path.join(out_path, "dead_letter")

    def attempts_of(batch_id: int) -> int:
        p = os.path.join(attempts_dir, f"{batch_id}.n")
        if not os.path.exists(p):
            return 0
        with open(p) as fh:
            return int(fh.read() or 0)

    def record_attempt(batch_id: int) -> int:
        os.makedirs(attempts_dir, exist_ok=True)
        n = attempts_of(batch_id) + 1
        with open(os.path.join(attempts_dir, f"{batch_id}.n"), "w") as fh:
            fh.write(str(n))
        return n

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if dedupe_replays:
            marker = os.path.join(ledger, f"{batch_id}.done")
            if os.path.exists(marker):
                return
        if auth is not None:
            batch_df = ingest.auth_gate(
                batch_df, auth.current(), event_key=auth_key_col
            )
        if max_retries is not None:
            n_prev = attempts_of(batch_id)
            if n_prev > max_retries:
                # retry budget exhausted on a previous delivery: dead-
                # letter the whole batch and let the stream commit past it.
                # The ledger marker must be written on THIS path too — a
                # crash after the dead-letter append but before the
                # checkpoint commit replays the batch, and without the
                # marker the replay would append the same rows to
                # dead_letter a second time despite dedupe_replays.
                batch_df.write.mode("append").parquet(dead_letter_dir)
                if dedupe_replays:
                    os.makedirs(ledger, exist_ok=True)
                    with open(
                        os.path.join(ledger, f"{batch_id}.done"), "w"
                    ) as fh:
                        fh.write("")
                return
            if n_prev > 0 and retry_backoff_ms > 0:
                # FixedBackOff interval before each redelivery
                time.sleep(retry_backoff_ms / 1000.0)
        try:
            expected = batch_df.count() if verify_rows else None
            before = _parquet_data_files(data_dir) if verify_rows else set()
            write_clustered(
                batch_df,
                data_dir,
                cluster_cols=("sensorId",),
                mode="append",
            )
            if verify_rows:
                written = _parquet_rows(_parquet_data_files(data_dir) - before)
                if written != expected:
                    raise IOError(
                        f"batch {batch_id}: wrote {written} rows, expected "
                        f"{expected} — failing the batch so it replays "
                        "(ClickHouseWriterService.kt:61-65 parity)"
                    )
        except Exception:
            if max_retries is not None:
                record_attempt(batch_id)
            raise
        if dedupe_replays:
            os.makedirs(ledger, exist_ok=True)
            with open(os.path.join(ledger, f"{batch_id}.done"), "w") as fh:
                fh.write("")

    return write


def run_pipeline(
    source: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
    dedupe_replays: bool = False,
    auth: RefreshingAuthKeys | None = None,
    auth_key_col: str = "sensorId",
    verify_rows: bool = False,
    max_retries: int | None = None,
    retry_backoff_ms: int = DEFAULT_RETRY_BACKOFF_MS,
) -> StreamingQuery:
    """Wire source → transforms → sink with the reference's trigger cadence.

    ``available_now=True`` drains everything currently available and stops —
    the test-mode replacement for the 5 s wall-clock trigger.
    """
    transformed = ingest_transform(source)
    writer = transformed.writeStream.foreachBatch(
        foreach_batch_writer(
            out_path,
            dedupe_replays=dedupe_replays,
            auth=auth,
            auth_key_col=auth_key_col,
            verify_rows=verify_rows,
            max_retries=max_retries,
            retry_backoff_ms=retry_backoff_ms,
        )
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=TRIGGER_INTERVAL)
    return writer.start()


def streaming_dedup(
    events: DataFrame, watermark: str = "1 hour", keys: list[str] | None = None
) -> DataFrame:
    """C9 streaming: exact dedup with bounded state.

    The watermark bounds how long a key is remembered — the streaming
    version of the batch groupBy-digest dedup; state size is
    O(keys-per-watermark-window), not O(stream).
    """
    return events.withWatermark("ts", watermark).dropDuplicates(
        keys or ["user_id", "event_type", "ts"]
    )


def attach_minhash_sig(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> tuple[DataFrame, list[str]]:
    """Project the 16-component MinHash signature as columns `__sig00..`.

    Pure array-HOF projection (operators/dedup.minhash_signatures
    semantics), zero shuffle — composes with batch AND streaming plans.
    Returns (df_with_sig_columns, sig_col_names).
    """
    from ..functions.hashing import N_MINHASH, P, hash60, minhash_expr
    from ..operators.dedup import shingle_array

    arr = shingle_array(docs, text_col, n)
    hs = F.transform(arr, lambda s: hash60(s) % F.lit(P))
    sig_cols = [f"__sig{i:02d}" for i in range(N_MINHASH)]
    with_sig = docs.withColumn("__hs", hs)

    def perm(i: int):
        # factory, not a default arg: a two-param lambda would receive the
        # array INDEX as its second argument from F.transform
        return lambda h: minhash_expr(h, i)

    for i, c in enumerate(sig_cols):
        with_sig = with_sig.withColumn(
            c, F.array_min(F.transform("__hs", perm(i)))
        )
    return with_sig.drop("__hs"), sig_cols


def streaming_near_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    n: int = 3,
) -> DataFrame:
    """C9 × C12: streaming near-duplicate suppression with bounded state.

    The MinHash signature is a pure projection (attach_minhash_sig), so
    it composes with Structured Streaming directly: a document whose
    full 16-component signature equals one seen within the watermark is
    dropped. Signature equality is the strict rule (the est_jaccard =
    1.0 candidates); band-level OR semantics lives in
    streaming/stateful.band_lsh_flags (applyInPandasWithState). State is
    O(distinct signatures per watermark window), same bound as
    streaming_dedup.
    """
    with_sig, sig_cols = attach_minhash_sig(docs, text_col, n)
    return (
        with_sig.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(sig_cols)
        .drop(*sig_cols)
    )


def kafka_sink_options(brokers: str, topic: str = KAFKA_TOPIC) -> dict[str, str]:
    """A6: the producer side (publisher/internal/kafka/publisher.go:34-49).

    Parity mapping — batching 100 msgs / 1 s, leader-only acks, async:
    kafka-go `BatchSize/BatchTimeout/RequiredAcks` become the producer's
    `batch.size/linger.ms/acks`. Spark's Kafka sink is naturally async
    within a task (librdkafka-style buffering in the Java producer), and
    like the reference's 202-before-ack trade-off, rows are acked to the
    query only at task completion.
    """
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "kafka.acks": "1",  # RequireOne, publisher.go:40
        "kafka.linger.ms": "1000",  # BatchTimeout 1s, publisher.go:46
        "kafka.batch.size": str(100 * 1024),  # ~100 msgs, publisher.go:45
    }


def write_to_kafka(df: DataFrame, brokers: str, topic: str = KAFKA_TOPIC):
    """Publish a DataFrame's `value` column (optionally `key`) to Kafka —
    the publisher's Publish(ctx, key, value) as a batch/stream write.
    Keyless messages (nil key, handler.go:81) are the default: omit `key`
    and the partitioner round-robins like kafka-go LeastBytes."""
    cols = [F.col("value").cast("string").alias("value")]
    if "key" in df.columns:
        cols.insert(0, F.col("key").cast("string").alias("key"))
    out = df.select(*cols)
    writer = out.write.format("kafka")
    for k, v in kafka_sink_options(brokers, topic).items():
        writer = writer.option(k, v)
    writer.save()
