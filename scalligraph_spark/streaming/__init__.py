"""Structured Streaming surface: the reference's live-result machinery
re-expressed as streams.

Reference: transaction-scoped result streaming via Akka Sources
(JanusDatabase.scala:191-209, core-test/.../StreamTransactionTest.scala:39-62)
and cluster pub/sub eventing (core/.../services/EventSrv.scala:14-31).  A
batch engine has no transactions to stream; the equivalent capability is a
Structured Streaming pipeline over the same tables: file-source ingest →
event-time windowed aggregation with watermarked late-data handling →
incremental sink.

Scale shape: the windowed aggregate is a streaming hash aggregate with
state eviction at the watermark; ``available_now`` triggers process a
backlog with bounded batches (the batch/stream unification point).
Every ``start_*`` sink returns its started StreamingQuery (the caller
awaits or stops it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to timestamp_ntz regardless of the
    on-disk encoding: INT64 TIMESTAMP(NANOS) read under nanosAsLong arrives as
    bigint (ns → µs via exact integer `div`; double division is lossy at 1e18
    ns magnitudes), timestamp[us] arrives ready-made."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    if dt != "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (readStream needs an explicit
    schema — taken from the parquet footer so either ts encoding works)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source needs a directory; events.parquet is a single file →
    # stream the parent dir with a glob filter
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def jsonl_doc_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    max_files_per_trigger: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Streaming ingest of the JSONL interchange format: file-source text
    stream → the SAME relational lenient parse as batch
    (`sources.parse_json_lines`), so a malformed line quarantines instead
    of killing the stream — safeIterator semantics on a live firehose.

    Returns ``(clean, corrupt)`` streaming DataFrames sharing one source;
    route clean to `start_parquet_sink`/`start_store_sink` and corrupt to
    a reject sink.  ``max_files_per_trigger`` bounds batch size when
    draining a large backlog (admission control for the 100 TB catch-up)."""
    from scalligraph_spark.sources import parse_json_lines, split_corrupt

    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    lines = reader.text(path)
    return split_corrupt(parse_json_lines(lines, schema))


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Event-time windowed rollup with late-data watermark: the streaming
    twin of the ``time`` aggregation (Aggregation.scala:401-428).  Pass
    ``slide`` for HOPPING windows (each event lands in window/slide
    overlapping windows — the streaming twin of the batch
    ``events_hopping_windows`` grid); default is tumbling.  In
    ``append``/``update`` output modes, state for windows older than the
    watermark is evicted — bounded memory on an unbounded stream (a
    ``complete``-mode sink keeps all windows; see run_available_now)."""
    from scalligraph_spark.functions import dsum

    ts = F.col("ts").cast("timestamp")
    win = F.window("__ts", window, slide) if slide else F.window("__ts", window)
    return (
        events.withColumn("__ts", ts)
        .withWatermark("__ts", watermark)
        .groupBy(win.alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("count"), dsum(F.col("value")).alias("total"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "count",
            "total",
        )
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str = "events_rollup",
    output_mode: str = "complete",
) -> DataFrame:
    """Drain the current backlog through the streaming plan into an
    in-memory sink and return the result table — a TEST/driver entry, not
    the production path.

    ``complete`` mode (default) re-emits every window including ones the
    watermark has not yet closed — necessary for drain≡batch comparisons,
    but it retains all window state for the query's lifetime, so it is only
    bounded because the drain terminates with the backlog.  A long-running
    production rollup must use ``append``/``update`` so watermark eviction
    applies — see :func:`start_store_sink` / pass ``output_mode="append"``.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def _start(writer, checkpoint_dir: str, query_name: str):
    """Start a sink: checkpointed, append mode, named, and draining the
    available backlog (``availableNow``).  Returns the StreamingQuery."""
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def _committed(store, label: str, batch_id: int) -> bool:
    """Does ``label``'s head commit already record micro-batch ``batch_id``?"""
    v = store.version(label)
    return v > 0 and store.commit_meta(label, v).get("batch_id", -1) >= batch_id


def _fold(
    store, label: str, batch_id: int, batch: DataFrame,
    merge=DataFrame.unionByName, first: DataFrame | None = None, meta=None, **write_opts,
) -> int:
    """Commit ``merge(head, batch)`` as the next version of ``label``,
    stamped with ``batch_id`` in the commit meta; returns the version.
    ``first`` stands in for the head of a label with no version yet
    (without it the batch alone is committed).  ``meta`` adds commit
    fields — a dict, or a function of the merged rows.

    Batch-id idempotence: ``foreachBatch`` is at-least-once, so after a
    crash-restart Spark replays the last micro-batch.  Every sink asks
    :func:`_committed` first and skips a batch its target's head already
    records, which makes each versioned commit exactly-once per batch
    (the rescue Delta's txn log performs).  A sink that commits several
    labels asks for each one and catches up only the ones that lag.  The
    head read pins its version while the write lands in a fresh one, so
    there is no read-own-write hazard."""
    v = store.version(label)
    head = store.read(batch.sparkSession, label, v) if v > 0 else first
    rows = batch if head is None else merge(head, batch)
    extra = meta(rows) if callable(meta) else meta or {}
    return store.write(label, rows, meta={"batch_id": batch_id, **extra}, **write_opts)


def start_parquet_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    query_name: str = "events_sink",
):
    """PRODUCTION sink for a raw/deduped stream: append-mode parquet file
    sink with a checkpoint — Spark's file sink records committed files in
    its own log, so a restart with the same ``checkpoint_dir`` resumes at
    the first unprocessed source file and never re-emits rows (exactly-once
    for file sources → file sink).  This is the firehose path at 100 TB:
    per-batch appends, no rewrite of existing data (compact later with
    ``LabelStore.compact``-style OPTIMIZE)."""
    return _start(
        stream_df.writeStream.format("parquet").option("path", path), checkpoint_dir, query_name
    )


def start_store_sink(
    stream_df: DataFrame,
    store,
    label: str,
    checkpoint_dir: str,
    query_name: str = "store_sink",
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
):
    """Stream → versioned :class:`~scalligraph_spark.store.LabelStore`
    commits via ``foreachBatch``: each micro-batch lands as a NEW table
    version (current ∪ batch) with the batch id recorded in the commit
    metadata, so a replayed batch after a crash-restart is skipped
    (:func:`_fold`).

    Scope: rollup/dimension tables whose current version is rewrite-sized
    (windowed aggregates, session summaries).  A raw firehose should use
    :func:`start_parquet_sink` — rewriting the full table per batch is the
    wrong shape for append-only 100 TB data.

    ``stats_cols`` threads the file-stats manifest through every batch
    commit (store.write contract), so an incrementally-maintained table
    stays prunable by ``read_skipping`` without a separate backfill pass;
    ``bloom_cols`` does the same for per-file Bloom filters (point
    lookups on unclustered columns — the Delta bloom-index analog)."""

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if not _committed(store, label, batch_id):
            _fold(store, label, batch_id, batch_df, stats_cols=stats_cols, bloom_cols=bloom_cols)

    return _start(stream_df.writeStream.foreachBatch(_commit), checkpoint_dir, query_name)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    RUNNING event count / value total across micro-batches — state Spark's
    built-in aggregations cannot express incrementally per update-batch
    (windowed aggs re-emit windows; this emits the running total per user
    per batch, the pub/sub EventSrv counter shape).

    State layout: one (count, total) pair per user key, updated per Arrow
    batch group; output mode "update" emits only users seen in the batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def deduped_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop repeated ``keys`` rows arriving within
    the watermark — the streaming twin of ``operators.exact_dedup`` (an
    at-least-once ingest in front of the corpus tables makes duplicate
    events/documents a certainty; dedup must happen ON the stream or every
    downstream count is inflated).

    ``dropDuplicatesWithinWatermark`` keys the state store on ``keys`` and
    evicts each entry once the watermark passes its first-seen event time —
    bounded state on an unbounded stream, which plain ``dropDuplicates``
    cannot guarantee (its state grows forever without a watermark).
    """
    ts = F.col(ts_col).cast("timestamp")
    return (
        events.withColumn("__ts", ts)
        .withWatermark("__ts", watermark)
        .dropDuplicatesWithinWatermark(keys or ["event_id"])
        .drop("__ts")
    )


def stream_funnel(
    events: DataFrame,
    first_type: str,
    then_type: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream funnel join: every ``then_type`` event joined to the
    same user's ``first_type`` events at most ``within`` earlier — the
    streaming twin of ``operators.range_join``.

    Both sides carry watermarks AND the join condition bounds event time
    on both sides — that pair is what lets Spark EVICT join state (an
    unbounded stream-stream join must otherwise buffer everything
    forever).  State per side ≈ rows inside watermark + ``within``.
    """
    first = (
        events.where(F.col("event_type") == first_type)
        .select(
            F.col("user_id").alias("f_user"),
            F.col("ts").cast("timestamp").alias("f_ts"),
            F.col("event_id").alias("f_id"),
        )
        .withWatermark("f_ts", watermark)
    )
    then = (
        events.where(F.col("event_type") == then_type)
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("t_ts"),
            F.col("event_id").alias("t_id"),
        )
        .withWatermark("t_ts", watermark)
    )
    return then.join(
        first,
        F.expr(f"user_id = f_user AND t_ts >= f_ts AND t_ts <= f_ts + INTERVAL {within}"),
    ).select("user_id", "f_id", "f_ts", "t_id", "t_ts")


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (the stateful-operator shape): built-in
    ``session_window`` keeps this JVM-side — no Python state machine needed
    (applyInPandasWithState is the fallback for semantics Spark lacks)."""
    from scalligraph_spark.functions import dsum

    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("__ts", ts)
        .withWatermark("__ts", gap)
        .groupBy(F.session_window("__ts", gap).alias("sess"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("sess.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sess.end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def start_dedup_sink(
    stream_df: DataFrame,
    store,
    label: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "dedup_sink",
):
    """Streaming ingest with EXACT dedup against everything already
    committed — the crawl-firehose shape: each micro-batch is classified
    by :func:`~scalligraph_spark.operators.dedup.incremental_dedup`
    against an incrementally-maintained hash table, and only ``new``
    documents land in the corpus.

    Production scale shape: the corpus TEXT is never re-read per batch —
    the classifier probes ``<label>__hashes``, a store table holding one
    distinct 32-hex md5 per committed document (appended by this sink as
    it commits, i.e. the hash column IS maintained incrementally), with
    the broadcast Bloom pre-filter pruning the semi-join on mostly-novel
    batches.  Batch-id idempotence (:func:`_fold`) is tracked PER TABLE:
    the sink commits the corpus, then its ``__hashes`` sidecar, and a
    crash between the two leaves the sidecar one batch behind — checking
    just the corpus would leave the batch's hashes missing forever,
    silently re-admitting future duplicates.  Classification replays
    identically because it reads the sidecar at its pre-batch version in
    both runs."""
    hashes_label = f"{label}__hashes"

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        from scalligraph_spark.operators.dedup import incremental_dedup

        spark = batch_df.sparkSession
        hv = store.version(hashes_label)
        label_done = _committed(store, label, batch_id)
        hashes_done = _committed(store, hashes_label, batch_id)
        if label_done and hashes_done:
            return  # replayed batch — both tables already committed
        corpus_hashes = (
            store.read(spark, hashes_label, hv) if hv > 0 else spark.createDataFrame([], "h string")
        )
        classified = incremental_dedup(
            corpus=None,
            batch=batch_df,
            text_col=text_col,
            id_col=id_col,
            corpus_hashes=corpus_hashes,
        ).persist()
        try:  # finally: a failed commit must not strand the batch cache
            new_keys = classified.where(F.col("status") == "new").select(id_col, "h")
            if not label_done:
                batch_new = batch_df.join(new_keys.select(id_col), id_col, "left_semi")
                _fold(store, label, batch_id, batch_new)
            if not hashes_done:
                _fold(store, hashes_label, batch_id, new_keys.select("h").distinct())
        finally:
            classified.unpersist()

    return _start(stream_df.writeStream.foreachBatch(_commit), checkpoint_dir, query_name)


def start_neardup_sink(
    stream_df: DataFrame,
    store,
    corpus_label: str,
    index_name: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "neardup_sink",
):
    """Streaming crawl ingest gated by NEAR-duplicate detection — the
    near-dup twin of :func:`start_dedup_sink`, composed from the
    persisted MinHash index (dedup_index.py): per micro-batch,

    1. probe the batch against the index (`incremental_near_dups` —
       batch-sized work; the corpus is never re-signed) and drop every
       doc whose estimated Jaccard against ANYTHING held ≥ ``threshold``;
    2. drop within-batch near-dups (`minhash_lsh_pairs` over the batch —
       batch²-bounded; the kept doc is the pair's lower id);
    3. append the survivors to the corpus label and fold them into the
       index as a delta segment (`extend_minhash_index` — cost ∝ batch,
       so the NEXT batch probes base ∪ segments with no rebuild).

    The first batch bootstraps the index from its own survivors.
    Batch-id idempotence (:func:`_fold`) is tracked per artifact (corpus
    commit meta AND index meta): a crash between the corpus append and
    the index extend replays into catching up ONLY the index —
    classification replays identically because it reads the index at its
    pre-batch state either way.  Run `compact_minhash_index` under maintenance when the segment
    count grows."""
    from scalligraph_spark.operators.dedup import minhash_lsh_pairs
    from scalligraph_spark.operators.dedup_index import (
        build_minhash_index,
        extend_minhash_index,
        incremental_near_dups,
    )
    from scalligraph_spark.operators.segments import read_meta

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        corpus_done = _committed(store, corpus_label, batch_id)
        have_index = store.version(index_name) > 0
        index_done = have_index and read_meta(store, index_name).get("batch_id", -1) >= batch_id
        if corpus_done and index_done:
            return  # replayed batch — both artifacts already committed
        batch = batch_df
        if have_index:
            corpus_hits = incremental_near_dups(
                spark, store, index_name, batch, threshold=threshold
            ).select(F.col("batch_id").alias(id_col)).distinct()
            batch = batch.join(corpus_hits, id_col, "left_anti")
        intra = (
            minhash_lsh_pairs(batch, text_col=text_col, id_col=id_col, threshold=threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        survivors = batch.join(intra, id_col, "left_anti").persist()
        try:  # finally: a failed commit must not strand the batch cache
            survivors.count()
            if not corpus_done:
                _fold(store, corpus_label, batch_id, survivors)
            if not index_done:
                if have_index:
                    extend_minhash_index(
                        spark, store, index_name, survivors,
                        corpus_store=store, extra_meta={"batch_id": batch_id},
                    )
                else:
                    build_minhash_index(
                        spark, store, index_name, survivors,
                        text_col=text_col, id_col=id_col,
                        corpus_store=store, corpus_label=corpus_label,
                        extra_meta={"batch_id": batch_id},
                    )
        finally:
            survivors.unpersist()

    return _start(stream_df.writeStream.foreachBatch(_commit), checkpoint_dir, query_name)


def start_quality_gate_sink(
    stream_df: DataFrame,
    store,
    label: str,
    checks: list[dict],
    checkpoint_dir: str,
    quarantine_label: str | None = None,
    query_name: str = "quality_gate",
):
    """Streaming ingest behind a BATCH-level promotion gate: each
    micro-batch runs the declarative constraint suite
    (:func:`~scalligraph_spark.operators.quality.run_quality_checks` —
    every aggregate constraint in ONE scan+agg) and commits to the
    corpus label only when EVERY check passes; a failing batch lands
    intact in the quarantine label instead (default
    ``<label>__quarantine``) with the failed constraint rows recorded in
    its commit meta — nothing is silently dropped, and the quarantined
    batch replays through re-ingestion once upstream is fixed.  The full
    report rides the commit meta either way (the promotion audit trail).

    This is the dataset-level gate (the Deequ/dbt-test shape) composed
    into ingestion — row-level quarantine is
    :func:`~scalligraph_spark.writes.validate_rows`; near-dup gating is
    :func:`start_neardup_sink`; the three stack.  Batch-id idempotence
    (:func:`_fold`) is checked on both target labels."""
    from scalligraph_spark.operators.quality import run_quality_checks

    qlabel = quarantine_label or f"{label}__quarantine"

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if _committed(store, label, batch_id) or _committed(store, qlabel, batch_id):
            return  # replayed batch already routed
        report = [r.asDict() for r in run_quality_checks(batch_df, checks).collect()]
        ok = all(r["passed"] for r in report)
        gate = {"quality_report": report, "gate": "passed" if ok else "quarantined"}
        _fold(store, label if ok else qlabel, batch_id, batch_df, meta=gate)

    return _start(stream_df.writeStream.foreachBatch(_commit), checkpoint_dir, query_name)


def start_stats_sink(
    stream_df: DataFrame,
    store,
    label: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
    query_name: str = "stats_sink",
):
    """Keep column statistics FRESH on a live stream: each micro-batch is
    sketched (`stats.column_sketches` — counts, nulls, HLL NDV) and merged
    into the stored sketch table as a new version — the incremental-stats
    loop (`stats.merge_sketches`) running continuously, so planners and
    auto-sized operators read near-real-time metadata while NEVER
    rescanning history.  A replayed batch after crash-restart is skipped
    (:func:`_fold`), keeping the merge exactly-once per batch.

    Read back with ``stats.sketch_estimates(store.read(spark, label))``.
    """
    from scalligraph_spark.stats import column_sketches, merge_sketches

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if not _committed(store, label, batch_id):
            sketch = column_sketches(batch_df, columns=columns)
            _fold(store, label, batch_id, sketch, merge=merge_sketches)

    return _start(stream_df.writeStream.foreachBatch(_commit), checkpoint_dir, query_name)


def start_mv_sink(
    stream_df: DataFrame,
    store,
    label: str,
    checkpoint_dir: str,
    group_cols: list[str],
    measure_cols: list[str],
    query_name: str = "mv_sink",
):
    """Continuously-maintained materialized view on a live stream: each
    micro-batch is aggregated once (`store.aggregate_snapshot` over the
    batch only — churn-sized, never history) and merged into the stored MV
    as a new version by group-wise addition (`store.merge_aggregate`) —
    the append-only case of the counting-algorithm IVM in
    `store.refresh_aggregate`, running forever.  Readers get a
    near-real-time grouped count/sum table with the store's snapshot
    isolation; a crash-replayed batch is skipped (:func:`_fold`), keeping
    the merge exactly-once.

    Read back with ``store.read(spark, label)`` — columns are
    ``group_cols + n_rows + sum_<m>``.
    """
    from scalligraph_spark.store import aggregate_snapshot, merge_aggregate

    def merge(mv: DataFrame, delta: DataFrame) -> DataFrame:
        return merge_aggregate(mv, delta, group_cols, measure_cols)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if not _committed(store, label, batch_id):
            delta = aggregate_snapshot(batch_df, group_cols, measure_cols)
            _fold(store, label, batch_id, delta, merge=merge)

    return _start(stream_df.writeStream.foreachBatch(_commit), checkpoint_dir, query_name)


def enrich_with_scd2(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str = "ts",
    how: str = "left",
) -> DataFrame:
    """Stream-static SCD2 enrichment: attach to each streaming event the
    dimension version that was VALID AT the event's own time — the
    warehouse lookup every event pipeline needs once dimensions change
    (pricing tiers, user segments, model versions).

    ``dim`` is a type-2 dimension (``operators.scd2_from_observations``
    output: key, attrs, version, valid_from, valid_to half-open).  The
    join condition is the as-of probe
    ``valid_from <= ts AND (valid_to IS NULL OR ts < valid_to)`` — a
    stream-static join, which Structured Streaming executes stateLESSly:
    the static side is simply (re)read per micro-batch, so there is no
    watermark requirement and no state store growth.  At scale the
    dimension is the small side — Spark broadcasts it per batch, so
    enrichment costs a map-side hash probe per event.

    ``how="left"`` keeps events with no valid dimension version (nulls),
    ``"inner"`` drops them.

    Column-name safety: every dimension column is internally renamed
    before the join and the join condition references only qualified /
    renamed columns, so a stream and dimension sharing names (both carry
    ``ts``, or an attribute column) can neither raise an
    ambiguous-reference error nor silently duplicate output columns.
    Dimension attributes whose names collide with stream columns come
    back prefixed ``dim_``.
    """
    ts = stream[ts_col].cast("timestamp")
    d_cols = [c for c in dim.columns if c != key]
    d = dim.select(F.col(key).alias("__k"), *[F.col(c).alias(f"__d_{c}") for c in d_cols])
    cond = (
        (d["__k"] == stream[key])
        & (d["__d_valid_from"] <= ts)
        & (d["__d_valid_to"].isNull() | (ts < d["__d_valid_to"]))
    )
    out = stream.join(d, cond, how).drop("__k")
    for c in d_cols:
        out = out.withColumnRenamed(f"__d_{c}", f"dim_{c}" if c in stream.columns else c)
    return out


def start_index_maintenance_sink(
    stream_df: DataFrame,
    store,
    corpus_label: str,
    index_name: str,
    checkpoint_dir: str,
    rebuild_growth: float = 0.2,
    query_name: str = "index_maintenance",
    id_col: str | None = None,
    vec_col: str | None = None,
    text_col: str | None = None,
):
    """Streaming ingest + index freshness automation: each micro-batch
    appends to the corpus label (batch-id idempotent, :func:`_fold`) and
    then keeps the persisted index fresh —
    the automated form of the reference's ``ReindexData`` maintenance
    (JanusDatabase.scala:304-434): declared indexes stay fresh without an
    operator watching ``StaleAnnIndexWarning`` by hand.

    Maintenance is kind-aware (read from the index record):

    * ``bm25_inverted`` text indexes EXTEND incrementally — every batch
      folds in as a delta segment (:func:`extend_text_index`, cost ∝
      batch, index never goes stale between batches), and
      ``rebuild_growth`` instead gates COMPACTION (segment merge back
      into the base once the corpus outgrows it by that fraction — the
      Lucene merge policy, without ever retokenising);
    * ANN artifacts (ivf/pq/lsh) hold trained state (centroids /
      codebooks) that appended vectors use at query time automatically —
      only DRIFT degrades them, so growth past ``rebuild_growth`` since
      the trained version triggers a full :func:`reindex_ann` retrain.

    Growth decisions use the row counts recorded in commit meta (one
    ``count`` per committed batch, amortized into the commit itself), so
    no extra scan launches.  Every maintenance step is a new artifact
    version — concurrent readers pinned to the old one are undisturbed.

    Crash healing: a crash BETWEEN the corpus commit and the maintenance
    step leaves the corpus one batch ahead of the index; on restart the
    engine replays the batch, the corpus commit is skipped (batch-id
    idempotence) — and the index gap is closed by the CDC catch-up
    (:func:`~scalligraph_spark.operators.index_catchup.catchup_text_index`
    / ``catchup_ann_cells``): the delta between the index's recorded
    corpus version and head folds in as a segment, a noop when the index
    is already fresh.  Without this, a replayed batch's documents would
    be in the corpus but permanently missing from the index.

    The index must have been built with ``corpus_store``/``corpus_label``
    provenance (otherwise there is no trained-version anchor to measure
    growth from — the reindex contract raises).
    """
    from scalligraph_spark.operators.ann_index import extend_ann_cells, reindex_ann
    from scalligraph_spark.operators.index_catchup import (
        catchup_ann_cells,
        catchup_text_index,
    )
    from scalligraph_spark.operators.segments import read_meta
    from scalligraph_spark.operators.text_index import compact_text_index, extend_text_index

    def _index_meta() -> dict:
        # text indexes and IVF indexes with stored lists keep their record
        # on the segmented-index carrier; other ANN artifacts on their
        # own commit
        return read_meta(store, index_name) or store.commit_meta(index_name)

    def _heal(spark) -> None:
        """Replayed batch after a crash between corpus commit and
        maintenance: fold the CDC delta in (noop when already fresh).  A
        redelivery can land a key twice with different payloads — an
        update to the diff — so the fold tombstones, churn-sized; a
        rollback falls back to a rebuild rather than crash-loop the
        query."""
        from scalligraph_spark.operators.index_catchup import IndexCatchupError

        ix_meta = _index_meta()
        if ix_meta.get("corpus_version") is None:
            return
        catchup = (
            catchup_text_index if ix_meta.get("kind") == "bm25_inverted"
            else catchup_ann_cells if ix_meta.get("cells")
            else None
        )
        if catchup is None:
            return
        try:
            catchup(spark, store, index_name, store, on_mutation="tombstone")
        except IndexCatchupError:
            catchup(spark, store, index_name, store, on_mutation="reindex")

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _committed(store, corpus_label, batch_id):
            _heal(spark)  # corpus has this batch; the index may not
            return
        prev_rows = int(store.commit_meta(corpus_label).get("n_rows", 0))
        v = _fold(store, corpus_label, batch_id, batch_df, meta=lambda rows: {"n_rows": rows.count()})
        n_rows = int(store.commit_meta(corpus_label, v)["n_rows"])
        # the append-only batch IS the step's change feed: capturing it
        # costs no diff, and the crash-heal's table_changes reads it instead
        # of a corpus-sized two-snapshot hash diff
        from scalligraph_spark.cdf import capture_append

        ix_meta = _index_meta()
        key = id_col or str(ix_meta.get("id_col") or "") or next(
            (c for c in ("doc_id", "vec_id") if c in batch_df.columns), None
        )
        if key and key in batch_df.columns:
            capture_append(store, corpus_label, v, batch_df, [key])
        else:
            # without a key no feed is captured: make the costlier heal visible
            import warnings

            warnings.warn(
                f"index sink {query_name!r}: no id column found to capture the "
                f"batch feed for {corpus_label!r} (id_col={id_col!r}, index meta "
                f"id_col={ix_meta.get('id_col')!r}) — crash healing falls back "
                "to the corpus-sized hash diff; pass id_col= to the sink",
                stacklevel=2,
            )
        trained_v = ix_meta.get("corpus_version")
        if trained_v is None:
            return  # index not provenance-tracked (or not built yet)
        if ix_meta.get("kind") == "bm25_inverted":
            # incremental: the batch is exactly the appended documents
            extend_text_index(spark, store, index_name, batch_df, corpus_store=store)
            m = _index_meta()
            base = int(m["base_n_docs"] or 0)
            if base and (int(m["n_docs"]) - base) / base >= rebuild_growth:
                compact_text_index(spark, store, index_name)
            return
        # ANN: an artifact WITH inverted lists extends them per batch
        # (assignment against existing centroids — appended vectors stay
        # ivf_search-able with no staleness window, cost ∝ batch) …
        if ix_meta.get("cells"):
            extend_ann_cells(spark, store, index_name, batch_df, corpus_store=store)
        # … and growth past the threshold still RETRAINS (quantizer drift —
        # reindex_ann rebuilds centroids + full lists, resetting segments)
        trained_rows = int(store.commit_meta(corpus_label, trained_v).get("n_rows", 0) or prev_rows)
        if trained_rows == 0 or (n_rows - trained_rows) / trained_rows >= rebuild_growth:
            reindex_ann(spark, store, index_name, corpus_store=store, id_col=id_col, vec_col=vec_col)

    return _start(stream_df.writeStream.foreachBatch(_commit), checkpoint_dir, query_name)


def start_cdc_replay_sink(
    stream_df: DataFrame,
    store,
    label: str,
    key_cols: list[str],
    checkpoint_dir: str,
    query_name: str = "cdc_replay_sink",
):
    """Replicate a table from its change feed (cdf.py): each micro-batch
    carries change rows (``_change_type`` / ``_commit_version``) and is
    APPLIED — not appended — to the replica's current snapshot via
    :func:`~scalligraph_spark.cdf.apply_changes`, so deletes remove,
    postimages upsert, and the replica converges to the source table
    exactly (the replay property the cdf pytest pins, now at streaming
    cadence — the downstream half of a CDC replication pipeline).

    A replayed batch after a crash-restart is skipped (:func:`_fold`).
    Scale shape: the replica base never shuffles — apply_changes
    anti-joins the broadcast churn-sized touched keys."""
    from scalligraph_spark.cdf import CHANGE_TYPE, COMMIT_VERSION, apply_changes

    def merge(base: DataFrame, changes: DataFrame) -> DataFrame:
        return apply_changes(base, changes, key_cols)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        if _committed(store, label, batch_id):
            return
        # bootstrap: the replica's schema is the feed minus its meta
        empty = batch_df.sparkSession.createDataFrame(
            [], batch_df.drop(CHANGE_TYPE, COMMIT_VERSION).schema
        )
        _fold(store, label, batch_id, batch_df, merge=merge, first=empty)

    return _start(stream_df.writeStream.foreachBatch(_commit), checkpoint_dir, query_name)
