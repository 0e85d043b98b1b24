"""Structured Streaming operators over the events stream.

The reference has no streaming surface at all (SURVEY §2.12) — this module
is north-star extension territory, designed Spark-first:

- every windowing operator here is **mode-agnostic**: it takes a DataFrame
  that may be a batch read or a ``readStream`` and emits the same logical
  plan, so the batch twin *is* the correctness oracle for the stream;
- event time rides a real column (``ts``), never arrival order; late data
  is bounded with ``withWatermark`` so state stores stay finite at scale;
- the only stateful custom operator (per-key running totals) uses
  ``applyInPandasWithState`` — Arrow-batched, partitioned by key, state
  size O(distinct keys), never O(rows).

At 100 TB / 1000 executors: tumbling/sliding/session aggregations shuffle
once on (key, window) with partial aggregation map-side; watermarks bound
the state store; ``maxFilesPerTrigger`` paces source ingestion.

*Store maintenance.* The eight ``stream_*_ingest`` sinks keep parquet
stores (sketches, summaries, signature/vector stores, ...) and share one
skeleton, :func:`_ingest`. Each sink is only a per-batch step: (batch,
current store or None) -> rows per output path, each either a
replacement or an append. The skeleton drains the stream with the
``availableNow`` trigger and runs each batch inside
``session.checkpoint_scope``. A replacement is written to a sibling
directory and swapped in; an append's part files are moved into the path
under batch-tagged names (O(batch), never a rewrite of the store). Every
output path keeps a ``_seafan_batch`` marker with the checkpoint location
and the last applied ``batch_id``, and skips any batch at or below it.
So a micro-batch that Structured Streaming replays from the same
checkpoint (it re-runs a batch whose commit was not logged) leaves every
output as one run did. A different checkpoint, such as the default
fresh temporary one, never matches the marker and always applies.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import tempfile
from typing import Callable, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from seafan_spark.session import _drop_zip_importers, _local_frame, checkpoint_scope

EVENT_TIME = "_event_time"


def ensure_event_time(df: DataFrame, ts_col: str = "ts", out: str = EVENT_TIME) -> DataFrame:
    """Attach a TimestampType event-time column.

    Handles a native timestamp, TIMESTAMP_NTZ (parquet micros with
    isAdjustedToUTC=false), and the bigint-nanoseconds form produced by
    ``spark.sql.legacy.parquet.nanosAsLong`` — all converted to the same
    UTC instant DuckDB/pandas see (``temporal.epoch_us_col``).
    """
    from seafan_spark.temporal import epoch_us_col

    dt = df.schema[ts_col].dataType
    if isinstance(dt, T.TimestampType):
        c = F.col(ts_col)
    else:
        # bigint nanos or TIMESTAMP_NTZ -> exact epoch-micros (TZ-free,
        # wall time treated as UTC like DuckDB/pandas) -> instant
        c = F.timestamp_micros(epoch_us_col(df, ts_col))
    return df.withColumn(out, c)


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over parquet. ``schema`` defaults to the batch
    footer schema (streaming file sources require an explicit schema).

    The streaming file source wants a *directory* to monitor; a path to a
    single ``<table>.parquet`` file is rewritten to its parent directory
    plus a ``pathGlobFilter``, so the testdata layout (one file per table
    in a shared dir) streams cleanly."""
    import os

    from seafan_spark.sources import read_parquet

    if schema is None:
        # read_parquet also sets the nanosAsLong conf the stream read needs
        schema = read_parquet(spark, path).schema
    else:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def _window_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    window: Column,
    keys: Sequence[str],
    ts_col: str,
    watermark: str | None,
) -> DataFrame:
    """Shared body of the window aggregations: event time, the
    streaming-only watermark, one groupBy on (``window``, keys). Window
    bounds come out as epoch-second bigints."""
    d = ensure_event_time(df, ts_col)
    if watermark is not None and d.isStreaming:
        d = d.withWatermark(EVENT_TIME, watermark)
    out = d.groupBy(window.alias("_w"), *keys).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.unix_timestamp(F.col("_w.start")).alias("window_start"),
        F.unix_timestamp(F.col("_w.end")).alias("window_end"),
        *keys,
        *aggs.keys(),
    )


def tumbling_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    window: str = "1 hour",
    keys: Sequence[str] = (),
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation. Works identically on a batch
    DataFrame (oracle path) and a streaming one (pass ``watermark`` for
    append-mode emission). Window bounds come out as epoch-second bigints —
    timezone-unambiguous on both engines."""
    return _window_agg(df, aggs, F.window(EVENT_TIME, window), keys, ts_col, watermark)


def sliding_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    window: str = "1 hour",
    slide: str = "15 minutes",
    keys: Sequence[str] = (),
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) event-time windows; each event lands in
    window/slide overlapping windows."""
    return _window_agg(
        df, aggs, F.window(EVENT_TIME, window, slide), keys, ts_col, watermark
    )


def sessionize(
    df: DataFrame,
    aggs: dict[str, Column],
    gap: str = "30 minutes",
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: a session extends while consecutive events per key
    arrive within ``gap``; session end = last event + gap
    (``F.session_window`` semantics — a new session starts when the
    inter-event gap is >= ``gap``)."""
    return _window_agg(
        df, aggs, F.session_window(F.col(EVENT_TIME), gap), keys, ts_col, watermark
    )


def stream_dedup(
    df: DataFrame,
    subset: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon
    (``dropDuplicatesWithinWatermark``): state is bounded by the watermark,
    so this holds at unbounded stream length."""
    d = ensure_event_time(df, ts_col)
    if d.isStreaming:
        d = d.withWatermark(EVENT_TIME, watermark)
        return d.dropDuplicatesWithinWatermark(list(subset))
    return d.dropDuplicates(list(subset))


def stream_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    ts_col: str = "ts",
    before: str = "1 hour",
    after: str = "0 seconds",
    watermark: str = "1 hour",
    suffix: str = "_r",
) -> DataFrame:
    """Event-time interval join, mode-agnostic: right rows with event
    time in ``[left - before, left + after]`` per key.

    Streaming mode is a real stream-stream inner join: both sides get
    watermarks, and the explicit time-range predicate is what lets Spark
    bound the join state store (right rows expire once the left
    watermark passes ``right + before``). Batch mode emits the same
    logical plan — an equi-join on the key with a range condition — so
    the batch result is the stream's correctness oracle.
    """
    keys = [on] if isinstance(on, str) else list(on)
    l = ensure_event_time(left, ts_col, "_lt")
    r = ensure_event_time(right, ts_col, "_rt")
    if l.isStreaming:
        l = l.withWatermark("_lt", watermark)
    if r.isStreaming:
        r = r.withWatermark("_rt", watermark)
    # rename the right side's keys and colliding columns: the time-range
    # predicate must live IN the join condition (Spark derives the
    # state-expiry watermark from it; a post-filter would leave the
    # stream-stream state unbounded), so the join is by expression
    for c in right.columns:
        if c in keys:
            r = r.withColumnRenamed(c, c + "__rk")
        elif c in left.columns:
            r = r.withColumnRenamed(c, c + suffix)
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(k + "__rk"))
    cond = cond & F.col("_rt").between(
        F.col("_lt") - F.expr(f"INTERVAL {before}"),
        F.col("_lt") + F.expr(f"INTERVAL {after}"),
    )
    out = l.join(r, cond, "inner")
    return out.drop("_lt", "_rt", *[k + "__rk" for k in keys])


# ------------------------------------------------------------------------
# Custom stateful operator: per-key running totals
# ------------------------------------------------------------------------

_STATE_SCHEMA = "n BIGINT, total DOUBLE"


def _running_totals_fn(key, pdf_iter, state):
    """Fold each Arrow batch for one key into (count, sum) state and emit
    the updated running totals once per trigger."""
    _drop_zip_importers()
    # GroupState.get is a PROPERTY in pyspark (calling it would invoke the
    # state tuple itself and crash on the second trigger for any key)
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += int(pdf["value"].count())
        total += float(pdf["value"].sum())
    state.update((n, total))
    import pandas as pd

    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [round(total, 6)]})


def running_totals_stream(df: DataFrame, key: str = "user_id", value: str = "value") -> DataFrame:
    """Per-key cumulative (count, sum) maintained in the state store —
    the canonical ``applyInPandasWithState`` shape: grouped by key,
    Arrow-batched input, O(keys) state. Batch equivalent:
    ``df.groupBy(key).agg(count, sum)``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # the output key field's type follows the input key column (a
    # hardcoded LongType would fail at Arrow conversion for string keys)
    out_schema = f"user_id {df.schema[key].dataType.simpleString()}, {_STATE_SCHEMA}"
    return (
        df.select(F.col(key).alias("user_id"), F.col(value).alias("value"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _run(
    sdf: DataFrame,
    name: str,
    sink: Callable[[DataStreamWriter, str], DataStreamWriter],
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Drain ``sdf`` through ``sink(writer, checkpoint)`` with the
    ``availableNow`` trigger (process everything currently in the source,
    then stop). Without ``checkpoint_dir`` the query gets a fresh
    temporary checkpoint, removed afterwards."""
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="seafan_stream_ckpt_")
    try:
        q = (
            sink(sdf.writeStream, ckpt)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()
            raise TimeoutError(f"{name} did not finish in {timeout_sec}s")
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def run_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_sec: int = 300,
) -> DataFrame:
    """Execute a streaming plan to completion (``availableNow`` trigger —
    process everything currently in the source, then stop) into an
    in-memory table and return it as a DataFrame. Test/dev harness; real
    deployments point writeStream at kafka/parquet/delta instead."""
    _run(
        sdf,
        f"stream {name}",
        lambda w, _: w.format("memory").queryName(name).outputMode(output_mode),
        timeout_sec=timeout_sec,
    )
    # the memory sink holds the rows; the checkpoint is transient state
    return sdf.sparkSession.table(name)


# ------------------------------------------------------------------------
# Replay-safe store maintenance: the one skeleton behind stream_*_ingest
# ------------------------------------------------------------------------

_MARKER = "_seafan_batch"


class _Write(NamedTuple):
    """One output of a sink step: ``df`` replaces everything at ``path``,
    or, with ``append``, is added to it."""

    path: str
    df: DataFrame
    append: bool = False


def _fs(spark: SparkSession, path: str):
    P = spark._jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def _applied(spark: SparkSession, path: str, ckpt: str) -> int:
    """Last batch id the query checkpointed at ``ckpt`` applied to
    ``path``; -1 when none did, or another query wrote the path last."""
    fs, P = _fs(spark, path)
    marker = P(path, _MARKER)
    if not fs.exists(marker):
        return -1
    f = fs.open(marker)
    try:
        mark = json.loads(f.readUTF())
    finally:
        f.close()
    return mark["batch_id"] if mark["checkpoint"] == ckpt else -1


def _mark(spark: SparkSession, path: str, ckpt: str, batch_id: int) -> None:
    fs, P = _fs(spark, path)
    f = fs.create(P(path, _MARKER), True)
    try:
        f.writeUTF(json.dumps({"checkpoint": ckpt, "batch_id": batch_id}))
    finally:
        f.close()


def _purge(spark: SparkSession, path: str, tag: str) -> None:
    """Delete ``path``'s files named ``tag*``: what an append commit of
    this batch moved in before it was cut short of its marker."""
    fs, P = _fs(spark, path)
    for s in fs.globStatus(P(path, tag + "*")) or []:
        fs.delete(s.getPath(), False)


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The current store, or None before its first write. A replacement
    swap cut between its two renames is rolled back first."""
    fs, P = _fs(spark, path)
    prev = P(path.rstrip("/") + ".__prev")
    if not fs.exists(P(path)) and fs.exists(prev):
        fs.rename(prev, P(path))
    return spark.read.parquet(path) if fs.exists(P(path)) else None


def _commit(spark: SparkSession, w: _Write, ckpt: str, batch_id: int, tag: str) -> None:
    """Land one step output and record ``batch_id`` in its marker. Both
    kinds are first written to the sibling ``<path>.__staged``. A
    replacement (marker included) is then swapped in, so the old store is
    never overwritten in place. An append's part files are moved into
    ``path`` under ``tag``-prefixed names: O(batch) work, never a rewrite
    of the O(corpus) path."""
    fs, P = _fs(spark, w.path)
    path = w.path.rstrip("/")
    staged, prev = path + ".__staged", P(path + ".__prev")
    w.df.write.mode("overwrite").parquet(staged)
    if w.append:
        _purge(spark, path, tag)
        fs.mkdirs(P(path))
        for s in fs.listStatus(P(staged)):
            name = s.getPath().getName()
            if not name.startswith(("_", ".")):
                fs.rename(s.getPath(), P(path, tag + name))
        fs.delete(P(staged), True)
        _mark(spark, path, ckpt, batch_id)
    else:
        _mark(spark, staged, ckpt, batch_id)
        fs.delete(prev, True)
        if fs.exists(P(path)):
            fs.rename(P(path), prev)
        fs.rename(P(staged), P(path))
        fs.delete(prev, True)


def _ingest(
    stream_df: DataFrame,
    name: str,
    store_path: str,
    step: Callable[[DataFrame, DataFrame | None], list[_Write]],
    checkpoint_dir: str | None,
    timeout_sec: int,
) -> None:
    """Run a store-maintenance sink. ``step(batch, store)`` maps one
    micro-batch and the current store at ``store_path`` (None before the
    first write) to its outputs, the store's own write last. Each batch
    runs inside :func:`~seafan_spark.session.checkpoint_scope`. An output
    whose marker (same checkpoint) is at or above the batch id is
    skipped; so is the whole batch when the store's is, because the
    store commits last."""

    def apply(batch_df: DataFrame, batch_id: int, ckpt: str) -> None:
        spark = batch_df.sparkSession
        if _applied(spark, store_path, ckpt) >= batch_id:
            return
        tag = f"b{batch_id}-{hashlib.md5(ckpt.encode()).hexdigest()[:8]}-"
        with checkpoint_scope(spark):
            _purge(spark, store_path, tag)
            for w in step(batch_df, _read_store(spark, store_path)):
                if _applied(spark, w.path, ckpt) < batch_id:
                    _commit(spark, w, ckpt, batch_id, tag)

    _run(
        stream_df,
        name,
        lambda w, ckpt: w.foreachBatch(lambda df, i: apply(df, i, ckpt)),
        checkpoint_dir,
        timeout_sec,
    )


def stream_dedup_ingest(
    stream_docs: DataFrame,
    store_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.5,
    portable: bool = False,
    keep_dups: bool = True,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming near-duplicate ingestion against a persisted MinHash
    signature store (``foreachBatch`` + ``llmops.dedup``).

    Per micro-batch: shingle/sign ONLY the arriving documents, band them
    against the parquet signature store at ``store_path`` (store docs are
    never re-shingled), append the discovered pairs (new-vs-store and
    new-vs-new, ``id_a < id_b``) to ``pairs_path``, and append the new
    signatures to the store so later batches dedupe against them. With
    ``keep_dups=False`` a new document already matched to an earlier one
    is NOT added to the store (keep-first ingestion policy).

    Why ``foreachBatch`` and not a streaming state store: the dedup state
    is the whole corpus's signature table — O(corpus) and queryable by
    band join, which is exactly what a parquet table is for; streaming
    state stores are for per-key state that fits executors. At scale the
    same loop runs with the store bucketed by band key.

    A micro-batch replayed from the same checkpoint lands once per
    output (module docstring, *Store maintenance*)."""
    from seafan_spark.llmops.dedup import (
        minhash_pairs_incremental,
        minhash_signatures,
    )

    def step(batch_df: DataFrame, store: DataFrame | None) -> list[_Write]:
        new_sig = minhash_signatures(
            batch_df, id_col, text_col, num_hashes, shingle_k, portable
        ).localCheckpoint(eager=True)
        pairs = minhash_pairs_incremental(
            batch_df,
            store if store is not None
            else _local_frame(batch_df.sparkSession, [], new_sig.schema),
            id_col,
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
            threshold=threshold,
            portable=portable,
            check_store=False,  # the store is our own append lineage
            new_sig=new_sig,
        ).localCheckpoint(eager=True)
        to_add = new_sig
        if not keep_dups:
            # keep-first: a new doc that matched anything earlier stays out
            # of the store. "Earlier" = ANY stored doc (the store copy wins
            # regardless of id order — a new doc with a SMALLER id than its
            # store match is still the later arrival), or a lower-id doc in
            # this same batch. Taking only id_b would implement
            # keep-lowest-id and let the new side of a (new, store) pair
            # with new_id < store_id slip into the store.
            #
            # So id_b always loses, and id_a loses too when its partner is
            # a stored doc. Scale shape: pairs hold ONLY new-vs-store and
            # new-vs-new sides, so "partner is in the store" == "partner is
            # not in this batch" — resolved against the batch's own (small,
            # broadcast) id set, NEVER by scanning the O(corpus) store.
            new_ids = new_sig.select(F.col("_id").alias("id_b"))
            vs_store = pairs.join(F.broadcast(new_ids), "id_b", "left_anti")
            dup_new = pairs.select(F.col("id_b").alias("_id")).union(
                vs_store.select(F.col("id_a").alias("_id"))
            )
            to_add = to_add.join(F.broadcast(dup_new.distinct()), "_id", "left_anti")
        # re-ingested ids keep their original store row (append-only).
        # NOTE the store is the BIG side here, so no broadcast hint — the
        # anti-join shuffles on _id (AQE may still broadcast a small store)
        if store is not None:
            to_add = to_add.join(store.select("_id"), "_id", "left_anti")
        return [_Write(pairs_path, pairs, append=True), _Write(store_path, to_add, append=True)]

    _ingest(stream_docs, "dedup ingest", store_path, step, checkpoint_dir, timeout_sec)


def stream_embed_ingest(
    stream_vecs: DataFrame,
    store_path: str,
    pairs_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    probe_bits: int = 1,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming embedding near-duplicate ingestion against a persisted
    vector store — the ANN twin of :func:`stream_dedup_ingest`. Per
    micro-batch: normalize + hyperplane-bucket ONLY the arriving vectors,
    join them (with multi-probe flips) against the store's persisted
    bucket keys, append discovered pairs (new-vs-store and new-vs-new) to
    ``pairs_path``, and append the prepared rows to the store so later
    batches match against them. Store rows are never re-normalized or
    re-bucketed.

    A micro-batch replayed from the same checkpoint lands once per
    output (module docstring, *Store maintenance*)."""
    from seafan_spark.llmops.dedup import (
        embedding_neardup_incremental,
        embedding_store_prepare,
    )

    def step(batch_df: DataFrame, store: DataFrame | None) -> list[_Write]:
        prepared = embedding_store_prepare(
            batch_df, id_col, vec_col, dim, planes, seed
        ).localCheckpoint(eager=True)
        pairs = embedding_neardup_incremental(
            batch_df,
            store if store is not None
            else _local_frame(batch_df.sparkSession, [], prepared.schema),
            id_col,
            vec_col,
            dim,
            threshold=threshold,
            planes=planes,
            seed=seed,
            probe_bits=probe_bits,
            new_prepared=prepared,
        )
        # re-ingested ids keep their original store row (append-only)
        if store is not None:
            prepared = prepared.join(store.select("_id"), "_id", "left_anti")
        return [_Write(pairs_path, pairs, append=True), _Write(store_path, prepared, append=True)]

    _ingest(stream_vecs, "embed ingest", store_path, step, checkpoint_dir, timeout_sec)


def stream_sketch_ingest(
    stream_df: DataFrame,
    store_path: str,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming maintenance of a mergeable histogram sketch table
    (``foreachBatch`` + ``histogram``): per micro-batch, sketch ONLY the
    arriving rows (one scan of the batch), merge with the persisted
    sketch table at ``store_path`` (kilobytes — counts add, extrema
    combine), and rewrite the store. Because the merge is exact, the
    store always equals the sketch of every row ingested so far, so any
    later quantile/histogram question over the full history reads sketch
    rows, never re-scanning the stream's accumulated facts.

    Same state-shape rationale as :func:`stream_dedup_ingest`: the state
    is a queryable TABLE (group x bucket), which is what parquet is for —
    not per-key executor state.

    A micro-batch replayed from the same checkpoint lands once per
    output (module docstring, *Store maintenance*)."""
    from seafan_spark.histogram import histogram_rollup, histogram_sketch_table

    def step(batch_df: DataFrame, store: DataFrame | None) -> list[_Write]:
        merged = histogram_sketch_table(batch_df, group_cols, value_col, lo, hi, nbins)
        if store is not None:
            merged = histogram_rollup(store.unionByName(merged), group_cols)
        return [_Write(store_path, merged)]

    _ingest(stream_df, "sketch ingest", store_path, step, checkpoint_dir, timeout_sec)


def stream_heavy_hitters_ingest(
    stream_df: DataFrame,
    store_path: str,
    item_col: str,
    width: int = 4096,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming maintenance of a Misra–Gries heavy-hitter summary
    (``foreachBatch`` + ``sketches``): per micro-batch, summarize ONLY
    the arriving rows (one bounded-memory pass), merge with the
    persisted summary at ``store_path`` (<= width+1 slim rows —
    estimates add, one decrement re-compresses), and rewrite the store.

    The mergeable-summaries bound survives every merge: against the
    ALL-TIME item count n, any item with true count > n/(width+1) is in
    the store and its estimate undercounts by at most n/(width+1) — so
    "what tokens/domains/urls dominate the stream so far" is answered by
    reading kilobytes (``sketches.heavy_hitters_from_summary``), never
    re-scanning the accumulated stream.

    A micro-batch replayed from the same checkpoint lands once per
    output (module docstring, *Store maintenance*)."""
    from seafan_spark.sketches import merge_mg_summaries, misra_gries_summary

    def step(batch_df: DataFrame, store: DataFrame | None) -> list[_Write]:
        merged = misra_gries_summary(batch_df, item_col, width)
        if store is not None:
            merged = merge_mg_summaries(store, merged, width)
        return [_Write(store_path, merged)]

    _ingest(stream_df, "heavy-hitter ingest", store_path, step, checkpoint_dir, timeout_sec)


def stream_upsert_ingest(
    stream_changes: DataFrame,
    store_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    op_col: str | None = None,
    delete_op: str = "delete",
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming MERGE-INTO maintenance of a current-state table
    (``foreachBatch`` + ``cdc``): per micro-batch, compact the arriving
    changes to their latest row per key and fold them into the snapshot
    store at ``store_path`` — the streaming twin of ``cdc.apply_changes``.

    Out-of-order tolerance via TOMBSTONES: the store keeps deleted keys
    as rows flagged ``_del`` (with the delete's event time) instead of
    physically removing them, and a change only wins against the stored
    row when its event time is >= the stored one. A late-arriving older
    upsert therefore cannot resurrect a newer delete, and the store state
    equals ``cdc.latest_state`` over ALL changes ingested so far for ANY
    batch partitioning and arrival order (exact when ``ts_col`` is unique
    per key — cross-batch ties resolve in favor of the arriving change;
    pytest proves shuffled-batch == one-shot-batch). Read the visible
    state back with :func:`upsert_store_state`.

    Same state-shape rationale as the other ingest loops: the state is a
    queryable keyed TABLE (what parquet is for), not per-key executor
    state; at scale the store is key-bucketed so the per-batch merge join
    is co-located.

    A micro-batch replayed from the same checkpoint lands once per
    output (module docstring, *Store maintenance*)."""
    from seafan_spark.cdc import latest_state

    keys = list(key_cols)

    def step(batch_df: DataFrame, store: DataFrame | None) -> list[_Write]:
        # compact the batch KEEPING deletes as flagged rows (latest_state
        # would drop them; the store needs the tombstone + its ts)
        flagged = batch_df.withColumn(
            "_del",
            (F.col(op_col) == F.lit(delete_op)) if op_col else F.lit(False),
        )
        if op_col:
            flagged = flagged.drop(op_col)
        top = latest_state(flagged, keys, ts_col)
        if store is None:
            return [_Write(store_path, top)]
        # one full-outer join per batch; arriving change wins iff its
        # event time >= the stored row's (late old changes lose)
        payload = [col for col in store.columns if col not in keys]
        take_change = F.col(f"c.{ts_col}").isNotNull() & (
            F.col(f"s.{ts_col}").isNull()
            | (F.col(f"c.{ts_col}") >= F.col(f"s.{ts_col}"))
        )
        merged = store.alias("s").join(top.alias("c"), keys, "full_outer").select(
            *keys,
            *[
                F.when(take_change, F.col(f"c.{col}"))
                .otherwise(F.col(f"s.{col}"))
                .alias(col)
                for col in payload
            ],
        )
        return [_Write(store_path, merged)]

    _ingest(stream_changes, "upsert ingest", store_path, step, checkpoint_dir, timeout_sec)


def upsert_store_state(spark: SparkSession, store_path: str) -> DataFrame:
    """Visible current state of a :func:`stream_upsert_ingest` store:
    tombstoned keys filtered out, the ``_del`` flag dropped — the exact
    schema and content of ``cdc.latest_state`` over everything ingested."""
    store = spark.read.parquet(store_path)
    return store.filter(~F.col("_del")).drop("_del")


def stream_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "left",
    suffix: str = "_d",
) -> DataFrame:
    """Stream-static enrichment: join a (possibly streaming) fact against
    a static dimension table, dimension side broadcast — the standard
    lookup-enrichment shape. No watermark or state store involved: the
    static side is re-read per micro-batch (picking up slowly-changing
    dimension updates between triggers), and the broadcast keeps the
    stream side from ever shuffling. Mode-agnostic: a batch ``stream``
    emits the identical plan, so the batch twin is the stream's
    correctness oracle."""
    keys = [on] if isinstance(on, str) else list(on)
    d = dim
    for c in dim.columns:
        if c not in keys and c in stream.columns:
            d = d.withColumnRenamed(c, c + suffix)
    return stream.join(F.broadcast(d), on=keys, how=how)


def stream_line_counts_ingest(
    stream_df: DataFrame,
    store_path: str,
    text_col: str = "text",
    sep: str = "\n",
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming maintenance of the corpus line-frequency store behind
    :func:`seafan_spark.llmops.dedup.drop_common_lines` (CCNet
    boilerplate removal): per micro-batch, count ONLY the arriving
    documents' lines (explode + groupBy of the batch), merge by summing
    into the persisted (line_hash, c) table at ``store_path``, rewrite.
    Counts add, so the store always equals the line counts of every
    document ingested so far — the boilerplate set for cleaning any
    future batch is one filter over this table, never a corpus rescan.

    State shape: a queryable TABLE of (md5 line hash, count) —
    vocabulary-of-lines sized, not corpus sized.

    A micro-batch replayed from the same checkpoint lands once per
    output (module docstring, *Store maintenance*)."""

    def step(batch_df: DataFrame, store: DataFrame | None) -> list[_Write]:
        parts = F.split(F.col(text_col), "\\Q" + sep + "\\E", -1)
        merged = (
            batch_df.select(F.explode(parts).alias("_line"))
            .groupBy(F.md5(F.col("_line")).alias("_lh"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if store is not None:
            merged = store.unionByName(merged).groupBy("_lh").agg(F.sum("c").alias("c"))
        return [_Write(store_path, merged)]

    _ingest(stream_df, "line-count ingest", store_path, step, checkpoint_dir, timeout_sec)


def stream_seasonal_ingest(
    stream_df: DataFrame,
    store_path: str,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket: str = "hour_of_week",
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming maintenance of the seasonal-baseline store behind
    ``temporal.seasonal_residuals``: per micro-batch, compute the
    arriving rows' (keys, bucket, n, s, s2) moments and MERGE by
    summing into the persisted store — moments add exactly, so the
    store always equals the batch moments of everything ingested, and
    scoring a new window against history is one broadcast join of
    ``temporal.profile_from_moments(store)``.

    State shape: a |keys| x cells TABLE, kilobytes per key.

    A micro-batch replayed from the same checkpoint lands once per
    output (module docstring, *Store maintenance*)."""
    from seafan_spark.temporal import seasonal_moments

    key_list = list(keys)

    def step(batch_df: DataFrame, store: DataFrame | None) -> list[_Write]:
        merged = seasonal_moments(batch_df, key_list, ts_col, value_col, bucket)
        if store is not None:
            merged = (
                store.unionByName(merged)
                .groupBy(*key_list, "bucket")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("s").alias("s"),
                    F.sum("s2").alias("s2"),
                )
            )
        return [_Write(store_path, merged)]

    _ingest(stream_df, "seasonal ingest", store_path, step, checkpoint_dir, timeout_sec)


def stream_cms_ingest(
    stream_df: DataFrame,
    store_path: str,
    item_col: str,
    keys: Sequence[str] = (),
    depth: int = 4,
    width: int = 1024,
    portable: bool = False,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming maintenance of a count-min sketch store
    (:func:`sketches.cms_build` cells): per micro-batch, sketch ONLY the
    arriving rows and MERGE by summing cells into the persisted store —
    CMS cells add exactly (the same mergeability as the seasonal-moment
    store above), so the store always equals ``cms_build`` over
    everything ever ingested, and point-frequency questions
    (:func:`sketches.cms_estimate`) are answered from the kilobyte store
    without rescanning history. depth/width/portable must match across
    the store's lifetime (cells from different geometries don't merge).

    State shape: a <= groups x depth x width cell TABLE, never a
    streaming state store.

    A micro-batch replayed from the same checkpoint lands once per
    output (module docstring, *Store maintenance*)."""
    from seafan_spark.sketches import cms_build, cms_merge

    key_list = list(keys)

    def step(batch_df: DataFrame, store: DataFrame | None) -> list[_Write]:
        merged = cms_build(
            batch_df, item_col, keys=key_list,
            depth=depth, width=width, portable=portable,
        )
        if store is not None:
            merged = cms_merge(store, merged, keys=key_list)
        return [_Write(store_path, merged)]

    _ingest(stream_df, "cms ingest", store_path, step, checkpoint_dir, timeout_sec)
