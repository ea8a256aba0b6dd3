"""Structured Streaming operators (SURVEY.md §2.10 — capability
extensions; the reference is batch-only, its streaming-adjacent
traits being incremental cursor consumption and idempotent re-runs
via key dedup, /root/reference/sdk/process.php:137-146).

Each operator is a *transformation* applicable to either a batch or a
streaming DataFrame — the same plan runs under ``spark.read`` (for
oracle-checkable results) and ``spark.readStream`` with an
``availableNow`` trigger (true incremental execution with state
store + watermarks). Tests run both and assert they agree.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from php_etl_spark.catalog import cached as catalog_cached
from php_etl_spark.functions.exact import dec
from php_etl_spark.session import scratch_dir, scratch_root


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Streaming read of any catalog table. Schema comes from a batch
    probe (file-stream sources require an explicit schema).

    Directory-shaped tables (the production layout — parquet datasets
    are directories on HDFS/S3, where ``os.path.isfile`` is False)
    stream straight from the original path, no indirection. Only a
    bare single-file table — the local testdata layout — is exposed
    through a driver-local symlink dir, because the streaming file
    source lists directories. The symlink dir lives under the
    process's scratch root (``session.scratch_root``) with a name fixed
    per table path, so a checkpoint sees the same source file on every
    run of one process. That fallback assumes the driver's filesystem
    is visible to executors (true in local mode); on a real cluster,
    materialize single-file tables into a directory on the shared
    store instead."""
    path = f"{sf_dir}/{table}.parquet"
    # session-memoized raw scan: the schema probe otherwise costs a
    # fresh footer read + file index per streaming-query construction
    schema = catalog_cached(spark, sf_dir).raw(table).schema
    if os.path.isfile(path):
        link_dir = os.path.join(
            scratch_root(),
            f"stream_{table}_{hashlib.sha1(path.encode()).hexdigest()[:10]}",
        )
        os.makedirs(link_dir, exist_ok=True)
        link = os.path.join(link_dir, f"{table}.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = link_dir
    return spark.readStream.schema(schema).parquet(path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table; the TIMESTAMP(NANOS) column
    normalizes to a session-UTC microsecond timestamp exactly as in
    the batch catalog (watermarks require TimestampType, not NTZ)."""
    sdf = stream_table(spark, sf_dir, "events")
    ts_dtype = dict(sdf.dtypes)["ts"]
    if ts_dtype == "timestamp_ntz":
        # UTC session tz ⇒ bit-identical values, just watermarkable
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    elif ts_dtype == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return sdf


def _drain(
    transformed: DataFrame,
    output_mode: str,
    sink: str | Callable[[DataFrame, int], None],
    options: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Run a streaming plan under an ``availableNow`` trigger until it
    has consumed every source file present at start, and return the
    terminated query (its ``recentProgress`` and ``explain`` stay
    readable). ``sink`` is a format name, configured by ``options``, or
    a ``foreachBatch`` function. Without ``checkpoint_dir`` the run
    checkpoints into a fresh directory under the scratch root, so it
    starts from the beginning of its sources.

    The number of state-store instances is the session's
    ``spark.sql.shuffle.partitions`` at query start (AQE never
    coalesces streaming state)."""
    writer = transformed.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint_dir or scratch_dir("checkpoint_")
    )
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format(sink).options(**(options or {}))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_to_memory(
    transformed: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into an
    in-memory sink and return the result table. availableNow processes
    all currently-available files then stops — at-least-once batch
    semantics with streaming state machinery, the same pattern used
    for incremental backfills at scale.

    TEST/ORACLE USE ONLY: the memory sink materializes the whole
    result on the driver. Production paths (and the registered
    queries) go through ``run_to_files``, which keeps results on
    executor-written parquet."""
    name = f"stream_out_{uuid.uuid4().hex[:10]}"
    # the memory sink's table name is the query name, which
    # DataStreamWriter.queryName stores as this same option
    _drain(transformed, output_mode, "memory", {"queryName": name})
    return transformed.sparkSession.table(name)


def run_to_files(
    transformed: DataFrame, output_mode: str = "append", out_dir: str | None = None
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) with a
    FILE sink and read the result back — the scale-safe execution
    path: results go executor → parquet, never through driver memory
    (a 100 TB stream into the memory sink is a driver OOM; into
    parquet it's just files).

    - ``append`` → the native checkpointed parquet sink
      (exactly-once file commits via the write-ahead metadata log).
    - ``complete`` → ``foreachBatch`` overwriting the output dir with
      each batch's full result (the engine re-emits complete state
      every batch, so the last batch IS the answer; the plain file
      sink refuses aggregations without watermark in append mode —
      emitting finalized-only windows would drop every window still
      open at end-of-stream and break exactness).
    - ``update`` → ``foreachBatch`` appending each batch's changed
      rows; with a single availableNow batch (the oracle/backfill
      shape) this is exactly the final state. Multi-batch callers get
      a delta log and dedup to latest downstream.

    Without ``out_dir`` the output and its checkpoint go to a fresh
    directory under the scratch root. Returns a batch DataFrame over
    the written files (explicit schema, so a zero-row result still
    reads)."""
    spark = transformed.sparkSession
    base = out_dir or scratch_dir("stream_")
    data_dir = os.path.join(base, "out")
    ck_dir = os.path.join(base, "checkpoint")
    if output_mode == "append":
        _drain(transformed, "append", "parquet", {"path": data_dir}, ck_dir)
    else:
        mode = "overwrite" if output_mode == "complete" else "append"

        def _write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode(mode).parquet(data_dir)

        _drain(transformed, output_mode, _write_batch, checkpoint_dir=ck_dir)
    if not os.path.exists(data_dir):  # zero-row stream wrote nothing
        return spark.createDataFrame([], transformed.schema)
    return spark.read.schema(transformed.schema).parquet(data_dir)


def run_dedup_ingest(
    spark: SparkSession,
    sf_dir: str,
    corpus_max_id: int,
    threshold: float = 0.8,
) -> DataFrame:
    """Continuous corpus ingestion with near-duplicate filtering — the
    streaming form of an LLM data pipeline's admission control: each
    arriving micro-batch of documents is LSH-screened against the
    ALREADY-INGESTED corpus (llm.dedup.incremental_near_dup: batch
    bands x corpus bands, cost ∝ batch, never a corpus self-join) and
    only documents with no near-dup land in the destination.

    Here the pre-ingested corpus is ``doc_id <= corpus_max_id`` and
    the stream carries the rest. At production scale the corpus band
    table is a persisted artifact that each accepted batch appends to
    (so admission stays O(batch) forever); with availableNow's single
    batch the self-contained form below is equivalent.

    Returns the batch readback of admitted documents."""
    from php_etl_spark.llm.dedup import incremental_near_dup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") <= corpus_max_id)
    stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") > corpus_max_id
    )
    data_dir = os.path.join(scratch_dir("ingest_"), "out")

    def _admit(batch_df: DataFrame, _batch_id: int) -> None:
        dups = (
            incremental_near_dup(corpus, batch_df, threshold=threshold)
            .select("new_doc")
            .distinct()
        )
        admitted = batch_df.join(
            dups, batch_df["doc_id"] == dups["new_doc"], "left_anti"
        )
        admitted.write.mode("append").parquet(data_dir)

    _drain(stream, "append", _admit)
    if not os.path.exists(data_dir):
        return spark.createDataFrame([], docs.schema)
    return spark.read.schema(docs.schema).parquet(data_dir)


def run_to_jdbc(
    transformed: DataFrame,
    conn: dict,
    table: str,
    keys: list[str],
    output_mode: str = "update",
) -> DataFrame:
    """Stream → database materialization: each micro-batch's changed
    rows are UPSERTed into the JDBC destination keyed on ``keys``
    (staging table + transactional DELETE/INSERT, sources/jdbc.py) —
    the streaming continuation of the reference's MySQL destination
    (db_insert_many/db_update, /root/reference/sdk/lib/db.php:250-296).

    Keyed upsert makes the sink IDEMPOTENT per key: a replayed or
    overlapping micro-batch (failure/restart between batch commit and
    checkpoint advance) rewrites the same rows instead of duplicating
    them, so the destination converges to exactly-once FINAL STATE
    without requiring a transactional log on the database side. In
    update mode only changed aggregate rows ship per batch — the
    database write is ∝ state churn, not state size. Returns a batch
    read-back of the destination table."""
    from php_etl_spark.sources import jdbc as J

    spark = transformed.sparkSession
    # create the destination up front (empty frame, schema only) so
    # the first batch's INSERT..SELECT has a table to land in
    try:
        J.read_jdbc_table(spark, conn, table).limit(0).collect()
    except Exception:  # noqa: BLE001 — not created yet
        J.jdbc_overwrite(
            spark.createDataFrame([], transformed.schema), conn, table
        )

    def _upsert_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            J.jdbc_upsert(batch_df.sparkSession, batch_df, conn, table, keys)

    _drain(transformed, output_mode, _upsert_batch)
    return J.read_jdbc_table(spark, conn, table)


def run_to_versioned(
    transformed: DataFrame,
    table_dir: str,
    keys: list[str],
    output_mode: str = "update",
) -> DataFrame:
    """Stream → versioned table: each micro-batch's changed rows
    merge-publish a NEW manifest version (sources/versioned.py) — a
    transactional streaming sink on plain parquet with no table-format
    dependency. Every batch commit is immutable data files + one
    atomic pointer write, so readers never observe a half-written
    batch, a crashed batch leaves an orphan snapshot and an intact
    pointer, and replayed batches (restart between commit and
    checkpoint advance) re-merge the same keys instead of duplicating
    them — the sink converges to exactly-once FINAL STATE on any
    object store. Returns a batch read of the final version."""
    from php_etl_spark.sources import versioned as V

    def _publish_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            V.upsert(batch_df.sparkSession, batch_df, table_dir, keys)

    _drain(transformed, output_mode, _publish_batch)
    return V.read_current(transformed.sparkSession, table_dir)


# --- transformations (batch- and stream-applicable) ---------------------------


def tumbling_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event type: count + exact sum."""
    w = F.window("ts", "1 hour")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4
    windows)."""
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        events.groupBy(w.alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows: a session extends while consecutive
    events arrive within ``gap``; window end = last event + gap."""
    w = F.session_window("ts", gap)
    return (
        events.groupBy(w.alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_keys(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked streaming dedup: first event per (user_id,
    event_type), state dropped past the watermark
    (dropDuplicatesWithinWatermark). Projected to the key set so the
    result is deterministic under any arrival order."""
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    return deduped.select("user_id", "event_type")


def stateful_counts(events: DataFrame) -> DataFrame:
    """Running per-user aggregate — the streaming-state op whose
    complete-mode output equals the batch groupBy."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )


def stateful_session_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    escape hatch for per-key state machines that windowed aggregates
    can't express (reference analogue: the per-key in-run caches of
    ETLTask, /root/reference/sdk/src/ETLTask.php:34-53, generalized to
    arbitrary state). Keeps (n, total, first_ts, last_ts) per user in
    the state store; each micro-batch folds its Arrow batches into the
    state and emits the updated row. State lives in the executor-side
    store (RocksDB in production), not driver memory — per-key state
    scales horizontally with the key space."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("first_ts", StringType()),
            StructField("last_ts", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total_cents", LongType()),
            StructField("first_ts", StringType()),
            StructField("last_ts", StringType()),
        ]
    )

    def update(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            n, total_cents, first_ts, last_ts = state.get
        else:
            n, total_cents, first_ts, last_ts = 0, 0, None, None
        for pdf in pdf_iter:
            if not len(pdf):
                # empty Arrow batch: ts.min() would be NaT and poison
                # first_ts with the literal string 'NaT'
                continue
            n += len(pdf)
            # cents-exact accumulation: integer cents in state, float
            # only on emit — no drift across many micro-batches
            total_cents += int(round(pdf["value"].sum() * 100))
            lo = pdf["ts"].min().isoformat()
            hi = pdf["ts"].max().isoformat()
            first_ts = lo if first_ts is None or lo < first_ts else first_ts
            last_ts = hi if last_ts is None or hi > last_ts else last_ts
        state.update((n, total_cents, first_ts, last_ts))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "total_value": total_cents / 100.0,
                    "first_ts": first_ts,
                    "last_ts": last_ts,
                }
            ]
        )

    return events.select("user_id", "ts", "value").groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def purchase_click_interval_join(
    ev_purchases: DataFrame, ev_clicks: DataFrame, how: str = "inner"
) -> DataFrame:
    """The purchases⋈preceding-hour-clicks interval-join SPEC (2 h
    watermarks on both sides, 1 h backward interval, user equi-key) —
    ONE definition shared by stream_stream_join (inner),
    stream_left_outer_join (leftOuter) and the explain_audit plan
    builders, so the audited plan can never drift from the spec the
    registered queries run (code-review r12). Callers pass raw event
    streams (possibly from different staged sources) and select from
    the joined columns."""
    purchases = (
        ev_purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev_clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    )


def stateful_ewma(events: DataFrame) -> DataFrame:
    """Streaming IIR EWMA per user (α=½) — the streaming twin of the
    batch ``ts_ewma_recursive`` operator: per-key (count, accumulator)
    state in the state store, each micro-batch folds its rows in
    (ts, event_id) order and emits the key's updated smoothed value.
    Within one micro-batch the fold order is the event-time order —
    the key's Arrow chunks are BUFFERED and sorted as one frame before
    folding, because a key whose batch rows span multiple chunks
    (arrow maxRecordsPerBatch) would otherwise fold chunks in
    arbitrary shuffle order — so a single-batch availableNow replay
    produces EXACTLY the batch operator's final value per user (pinned
    in tests); across many micro-batches the fold is arrival-order,
    which is what a streaming IIR filter means. State is two scalars
    per key regardless of stream length; emit is one row per touched
    key per batch (update mode)."""
    import pandas as pd

    from php_etl_spark.functions.exact import round_milli
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("ewma_milli", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("acc", DoubleType())]
    )

    def update(key, pdf_iter, state):
        (user_id,) = key
        n, acc = state.get if state.exists else (0, 0.0)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            # one frame, ONE sort: chunk-local sorts would interleave
            # wrongly when a key's rows span multiple Arrow chunks
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1 else chunks[0]
            ).sort_values(["ts", "event_id"])
            for v in pdf["value"].to_numpy(dtype="float64"):
                acc = v if n == 0 else 0.5 * v + 0.5 * acc
                n += 1
        state.update((n, float(acc)))
        if n:
            yield pd.DataFrame(
                [{"user_id": user_id, "n_events": n,
                  "ewma_milli": round_milli(acc)}]
            )

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_to_parquet(
    transformed: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Checkpointed file sink: availableNow run writing parquet with
    exactly-once file-commit semantics. The checkpoint records which
    source files each batch consumed — re-running against unchanged
    sources writes NOTHING new (idempotent re-runs, the property the
    reference builds by hand from per-key existence probes,
    /root/reference/sdk/migrate_employeur.php:60-68, here provided by
    the engine's write-ahead log). New files landing in the source dir
    are picked up incrementally by the next run."""
    _drain(transformed, "append", "parquet", {"path": out_dir}, checkpoint_dir)


def tws_available() -> bool:
    """``transformWithStateInPandas`` ships its state protocol over
    protobuf; the Python workers need the ``protobuf`` package or the
    streaming runner crashes at init. Gate callers on this."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals via ``transformWithStateInPandas`` — Spark 4's
    StatefulProcessor API (typed per-key state handles + timers), the
    successor of applyInPandasWithState. State lives in the RocksDB
    state store (the provider the API requires — also the right
    provider at scale: state spills to disk instead of executor heap).

    Money accumulates in integer cents inside the state so the final
    double division is the only float op — bit-identical to the batch
    aggregate at any batch split, which is exactly what the oracle
    checks. availableNow drains all input; update mode emits each
    key's final running total in its last batch."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires the protobuf package in "
            "the Python workers (absent here); use "
            "stateful_session_stats (applyInPandasWithState) instead"
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n LONG, cents LONG")

        def handleInputRows(self, key, rows, timerValues):
            n = 0
            cents = 0
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    (pdf["value"] * 100).round().astype("int64").sum()
                )
            if self._totals.exists():
                prev_n, prev_cents = self._totals.get()
                n += int(prev_n)
                cents += int(prev_cents)
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "sum_value": [cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    sdf = events_stream(spark, sf_dir).select("user_id", "value")
    out = sdf.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType="user_id long, n long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )
    return run_to_files(out, output_mode="update")
