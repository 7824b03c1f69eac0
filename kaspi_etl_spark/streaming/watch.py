"""Price watch — sliding-window stateful bot detection (SURVEY.md 2.8).

Reference: apps/kaspi_offers_dashboard/scripts/price_watch.ts —
  T1 periodic tick (:75-86)        -> trigger(processingTime=...)
  T2 per-(variant, seller) ring buffer of the last 5 snapshots, flag when
     >=3 undercuts (:31-52)        -> applyInPandasWithState / batch window
  T3 NDJSON append per snapshot (:53-63) -> writeStream json sink

Two implementations with an equivalence test between them (SURVEY.md 5):

* ``bot_flags_replay`` — batch replay over historical events with a
  ``rowsBetween(-4, 0)`` window: the oracle-checkable form.
* ``bot_flags_stream`` — Structured Streaming with keyed state holding the
  ring buffers, checkpointed; the production form. State is bounded (5
  bits per (variant, seller)), so at 100 TB/day the state store scales
  with #(variant, seller) pairs, not event volume. ``bot_flags_stream_v2``
  is the same job on transformWithStateInPandas.

Both stream forms project the events to the 4 columns the update reads
(variantId, seller, ts, price) plus ``bucket = pmod(xxhash64(variantId),
STATE_BUCKETS)``, and group by the bucket alone, so one Python call covers
every variant of a bucket and PySpark's per-group cost (state object,
Arrow->pandas conversion, concat, output frame) is paid once per bucket,
not once per variant. Both stateful adapters (``_flag_group``,
``BotFlagProcessor``) call one columnar kernel, ``_roll_flags``: numpy
(variant, tick) minima and undercut bits per micro-batch, then a single
pass over (variant, seller, bit) to roll the ring buffers. No pandas row
iteration runs inside the stateful operator.

State layout: one ``STATE_SCHEMA`` row per bucket, ``(version,
rings_json)``, holds the ring of every (variantId, seller) seen in the
bucket, keyed by the raw values (a NULL seller and a seller named "None"
are two rings). Consequences:

* ``STATE_BUCKETS`` (and the hash) must not change under an existing
  checkpoint: it re-keys every row. A checkpoint keyed otherwise — such as
  the earlier per-variantId layout — fails at restart on the state key
  schema (``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``) instead of restarting
  with empty rings; a row of another ``STATE_VERSION`` fails in the kernel.
* The stateful stage has work in at most ``STATE_BUCKETS`` tasks, however
  many shuffle partitions the session has.
* State writes are per bucket: a tick that quotes one variant of a bucket
  rewrites the whole bucket row, every variant's rings included.

Divergence note: the reference computes each tick's variant minimum over
that tick's snapshot only; the replay form uses the variant's minimum over
the replayed window input (deterministic under batch replay). The
streaming form mirrors the reference exactly: per-batch minimum per
variant, then the per-seller ring buffer.
"""

from __future__ import annotations

import json
from typing import Any, Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

UNDERCUT_MARGIN = 50  # price <= variant_min + 50 (price_watch.ts:44)
WINDOW_TICKS = 5  # last 5 snapshots (price_watch.ts:46)
FLAG_THRESHOLD = 3  # >=3 undercuts -> bot (price_watch.ts:47)


def bot_flags_replay(events: DataFrame, order_cols: list[str] | None = None) -> DataFrame:
    """W3 batch replay: sliding count of undercuts over the last 5
    observations per (variantId, seller).

    ``events``: variantId, seller, ts, price (+ passthrough columns).
    """
    order_cols = order_cols or ["ts"]
    variant_min = F.min(F.when(F.col("price") > 0, F.col("price"))).over(
        Window.partitionBy("variantId")
    )
    undercut = F.when(
        (F.col("price") > 0) & (F.col("price") <= variant_min + UNDERCUT_MARGIN), 1
    ).otherwise(0)
    sliding = Window.partitionBy("variantId", "seller").orderBy(
        *[F.col(c).asc() for c in order_cols]
    ).rowsBetween(-(WINDOW_TICKS - 1), 0)
    return events.withColumn("undercut", undercut).withColumn(
        "isPriceBot",
        F.sum("undercut").over(sliding) >= FLAG_THRESHOLD,
    )


# One state row per bucket of variantId holds every variant's per-seller
# ring buffers (the reference's Map<variant, Map<seller, window[]>>,
# price_watch.ts:31). Changing STATE_BUCKETS, or how a variantId maps to
# its bucket, re-keys every checkpoint.
STATE_BUCKETS = 64
STATE_VERSION = 2
# ``rings_json`` is [[variantId, [seller, ...], [ring, ...]], ...]: raw
# variantId and seller values, NULLs included. A ring is the last
# WINDOW_TICKS undercut bits as one number, newest bit lowest; a seller
# with fewer ticks has zeros above them, which count like no tick at all.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("version", T.IntegerType()),
        T.StructField("rings_json", T.StringType()),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("variantId", T.StringType()),
        T.StructField("seller", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("price", T.LongType()),
        T.StructField("isPriceBot", T.BooleanType()),
    ]
)


_OUT_COLS = [f.name for f in _OUT_SCHEMA.fields]

# The only columns the stateful update reads. Both stream forms project to
# them before groupBy, so each group converts 4 Arrow columns to pandas and
# the shuffle carries nothing else (the bucket aside), however wide the
# event schema grows.
_KERNEL_COLS = ["variantId", "seller", "ts", "price"]

_RING_MASK = (1 << WINDOW_TICKS) - 1
_RING_BITS = [bin(ring).count("1") for ring in range(_RING_MASK + 1)]


def _with_bucket(events: DataFrame) -> DataFrame:
    """The stateful operator's input in both stream forms: the 4 kernel
    columns plus ``bucket``, variantId's state bucket (a NULL variantId
    hashes to one fixed bucket, like any value)."""
    bucket = F.pmod(F.xxhash64("variantId"), F.lit(STATE_BUCKETS))
    return events.select(*_KERNEL_COLS, bucket.alias("bucket"))


def _load_rings(row: Any) -> dict:
    """A ``STATE_SCHEMA`` row (or None) -> {variantId: {seller: ring}}.
    A row of another layout version fails: its rings cannot be read."""
    if row is None:
        return {}
    version, rings_json = row
    if version != STATE_VERSION:
        raise ValueError(
            f"price-watch state row has layout version {version}, this code reads "
            f"{STATE_VERSION}; restart on a new checkpoint"
        )
    return {v: dict(zip(sellers, rings)) for v, sellers, rings in json.loads(rings_json)}


def _dump_rings(rings: dict) -> tuple:
    doc = [[v, list(ring), list(ring.values())] for v, ring in rings.items()]
    return STATE_VERSION, json.dumps(doc, separators=(",", ":"))


def _roll_flags(chunks: Iterable[Any], state: Any):
    """The per-bucket update shared by both stateful APIs —
    price_watch.ts:31-52 over one micro-batch of every variant in a bucket.

    Every (variant, tick) — a tick is a distinct ts — is scored against its
    minimum positive price over all sellers, and each (variant, seller)
    ring buffer of the last 5 undercut bits rolls once per row. ``chunks``
    are the group's pandas frames: a group larger than
    arrow.maxRecordsPerBatch arrives as several, and a tick split across
    them must still get one minimum and one append per row, so they are
    concatenated first. Rows with a NULL ts belong to no tick: no output,
    no append. Rows keep their input order within a (variant, tick)
    (stable sort), so a seller seen twice in a tick appends in that order.

    Everything but the ring buffers is columnar: a stable ``np.lexsort``
    by (variant, ts), one ``np.minimum.reduceat`` over each (variant, tick)
    run of rows for the minima, one vector of undercut bits; the rings
    then roll in a single pass over (variant, seller, bit). ``state`` is a
    ``STATE_SCHEMA`` row or None; returns (output frame, new state row)."""
    import numpy as np
    import pandas as pd

    rings = _load_rings(state)
    frames = [pdf for pdf in chunks if len(pdf)] or [pd.DataFrame(columns=_KERNEL_COLS)]
    whole = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    ts = whole["ts"].to_numpy()
    rows = np.flatnonzero(~pd.isna(ts))
    if not len(rows):
        return pd.DataFrame(columns=_OUT_COLS), _dump_rings(rings)
    variants = whole["variantId"].to_numpy()[rows]
    # NULL is a variant of its own; codes only order the rows.
    codes = pd.factorize(variants, use_na_sentinel=False)[0]
    order = np.lexsort((ts[rows], codes))
    rows, codes, variants = rows[order], codes[order], variants[order]
    ts = ts[rows]
    price = whole["price"].to_numpy()[rows]
    sellers = whole["seller"].to_numpy()[rows]

    # Arrow hands a LongType column over as int64, or as float64 with NaN
    # once it holds a NULL.
    top = (np.finfo if price.dtype.kind == "f" else np.iinfo)(price.dtype).max
    positive = price > 0  # NULL (NaN) and zero prices never undercut
    quote = np.where(positive, price, top)
    new_variant = np.concatenate(([True], codes[1:] != codes[:-1]))
    starts = np.flatnonzero(new_variant | np.concatenate(([True], ts[1:] != ts[:-1])))
    line = np.repeat(np.minimum.reduceat(quote, starts), np.diff(starts, append=len(ts)))
    # quote - line never overflows: a positive quote is >= its tick's
    # minimum, and a tick without one has line == quote == top.
    bits = (positive & (quote - line <= UNDERCUT_MARGIN)).astype(np.int8).tolist()

    rolled = []
    firsts = np.flatnonzero(new_variant).tolist()
    for a, b in zip(firsts, firsts[1:] + [len(rows)]):
        ring = rings.setdefault(variants[a], {})
        for seller, bit in zip(sellers[a:b].tolist(), bits[a:b]):
            r = (ring.get(seller, 0) << 1 | bit) & _RING_MASK
            ring[seller] = r
            rolled.append(_RING_BITS[r])
    # Keys in _OUT_COLS order: a columns= argument would cost a reindex.
    # The arrays are fresh (fancy-indexed), so they need no copy.
    out = pd.DataFrame(
        {
            "variantId": variants,
            "seller": sellers,
            "ts": ts,
            "price": price,
            "isPriceBot": np.array(rolled) >= FLAG_THRESHOLD,
        },
        copy=False,
    )
    return out, _dump_rings(rings)


def _flag_group(key: tuple, pdfs: Iterable[Any], state: Any):
    """applyInPandasWithState adapter of ``_roll_flags``. The key is the
    state bucket; rows carry their own variantId. The group state is one
    ``STATE_SCHEMA`` row."""
    out, row = _roll_flags(pdfs, state.get if state.exists else None)
    state.update(row)
    yield out


def bot_flags_stream(events: DataFrame) -> DataFrame:
    """T2 streaming form: keyed ring-buffer state via applyInPandasWithState.

    ``events`` is a streaming DataFrame with at least variantId, seller,
    ts and price; only those 4 columns (and the bucket) reach the shuffle
    and the Python worker. Keyed by the state bucket of variantId, so each
    group sees all sellers of each of its variants' ticks — the tick's
    minimum is computed inside the stateful operator (the ``_roll_flags``
    kernel) exactly like the reference's per-tick pass, with no streaming
    aggregation or stream-stream join needed. State is #sellers x 5 bits
    per variant, so the state store scales with distinct (variant,
    seller), not event volume.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return _with_bucket(events).groupBy("bucket").applyInPandasWithState(
        _flag_group,
        outputStructType=_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


from pyspark.sql.streaming import StatefulProcessor  # noqa: E402


def tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf at runtime (the
    state-server protocol); absent in some environments — callers should
    fall back to bot_flags_stream (applyInPandasWithState)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class BotFlagProcessor(StatefulProcessor):
    """transformWithStateInPandas form of the T2 ring-buffer detector —
    the Spark 4 replacement for applyInPandasWithState, with typed state
    variables and RocksDB-ready layout. Keyed by the state bucket; the
    value state is a ``STATE_SCHEMA`` row, and ``handleInputRows`` is an
    adapter of the same ``_roll_flags`` kernel as ``_flag_group``."""

    def init(self, handle) -> None:
        self._rings = handle.getValueState("rings", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timer_values):
        out, row = _roll_flags(rows, self._rings.get() if self._rings.exists() else None)
        self._rings.update(row)
        yield out

    def close(self) -> None:
        pass


def bot_flags_stream_v2(events: DataFrame) -> DataFrame:
    """T2 on the transformWithStateInPandas API (Spark 4). Same kernel,
    projection, bucketing and semantics as bot_flags_stream; tests assert
    equivalence with the batch replay."""
    return _with_bucket(events).groupBy("bucket").transformWithStateInPandas(
        statefulProcessor=BotFlagProcessor(),
        outputStructType=_OUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def watch_stream_job(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 60,
    schema: T.StructType | None = None,
):
    """T1+T3: file-source stream -> stateful flags -> NDJSON append sink
    with a processing-time trigger (price_watch.ts:75-86 cadence)."""
    from ..schemas import PRICE_WATCH_EVENTS

    stream = spark.readStream.schema(schema or PRICE_WATCH_EVENTS).json(source_dir)
    flagged = bot_flags_stream(stream)
    return (
        flagged.writeStream.format("json")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )


_DUE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("sku", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

_DUE_STATE_SCHEMA = T.StructType([T.StructField("last_run_epoch", T.DoubleType())])


def _due_group_factory(interval_min: float):
    interval_us = interval_min * 60e6

    def _due_group(key: tuple, pdfs: Iterable[Any], state: Any):
        """T4: per-SKU schedule gating (BUNDLE/scripts/scripts/
        price_watch.ts:47-67) — emit a tick only when intervalMin has
        elapsed since the last emitted tick for this key. Rows with a NULL
        ts are no tick and are dropped. The gate walks one sorted array of
        epoch micros over all of the group's chunks, one ``searchsorted``
        per emitted tick; the state keeps epoch seconds."""
        import numpy as np
        import pandas as pd

        ts = np.concatenate(
            [pdf["ts"].to_numpy() for pdf in pdfs] or [np.array([], "datetime64[us]")]
        )
        ts = np.sort(ts[~pd.isna(ts)])
        us = ts.astype("datetime64[us]").view(np.int64)
        last = round(state.get[0] * 1e6) if state.exists else None
        due = []
        at = 0 if last is None else int(np.searchsorted(us, last + interval_us))
        while at < len(us):
            due.append(at)
            last = int(us[at])
            at = max(at + 1, int(np.searchsorted(us, last + interval_us)))
        if last is not None:
            state.update((last / 1e6,))
        yield pd.DataFrame({"sku": [key[0]] * len(due), "ts": ts[due]})

    return _due_group


def due_ticks_stream(requests: DataFrame, interval_min: float = 5.0) -> DataFrame:
    """T4 streaming form: keyed lastRunAt state gates how often each SKU
    actually runs. ``requests``: streaming (sku, ts). State is one float
    per SKU — bounded by the catalog size, not event volume."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return requests.groupBy("sku").applyInPandasWithState(
        _due_group_factory(interval_min),
        outputStructType=_DUE_OUT_SCHEMA,
        stateStructType=_DUE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "v",
    value_alias: str = "sum_v",
) -> DataFrame:
    """Sessionization by inactivity gap: merging session_window groupBy,
    one plan for batch replay AND streaming (session_window merges
    partial sessions across micro-batches; with a watermark upstream the
    state store evicts closed sessions). The batch registered form
    (`events_session_windows`) and the streaming job below share this
    exact function, so the oracle-verified semantics are the streaming
    semantics."""
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(value_col).cast("long").alias(value_alias),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            "n_events",
            value_alias,
        )
    )


def session_stream_job(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    trigger_seconds: int | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "v",
    max_files_per_trigger: int | None = 1,
):
    """Reusable streaming sessionization job (the streaming form of
    events_session_windows): file-source NDJSON stream -> watermark ->
    merging session windows -> append NDJSON sink. State is one open
    session per active key — bounded by concurrent users, not event
    volume; the watermark closes and evicts sessions whose gap has
    passed. ``trigger_seconds=None`` runs availableNow (drain-and-stop,
    the test/backfill mode); a number gives the production
    processing-time cadence. ``max_files_per_trigger`` bounds each
    micro-batch (default 1 file) — the watermark only advances BETWEEN
    micro-batches, so draining a backlog as one giant batch would hold
    every session open until the end instead of emitting as it goes."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(source_dir)
    sessions = user_sessions(
        stream.withWatermark(ts_col, watermark),
        gap=gap,
        key_col=key_col,
        ts_col=ts_col,
        value_col=value_col,
    )
    writer = (
        sessions.writeStream.format("json")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_seconds is None:
        return writer.trigger(availableNow=True)
    return writer.trigger(processingTime=f"{trigger_seconds} seconds")


def windowed_price_stats(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked sliding-window aggregation over the event stream —
    beyond-reference generalization of T2/T3 (SURVEY.md 2.8 note): per
    variant, 5-minute tumbling windows of min/max/avg price tolerant to
    late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "variantId")
        .agg(
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
            F.avg("price").alias("avg_price"),
            F.count("*").alias("n"),
        )
    )


def dedup_stream_job(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | str,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    trigger_seconds: int | None = None,
    max_files_per_trigger: int | None = 1,
):
    """Reusable streaming exact-dedup job (the streaming form of
    events_dedup): file-source NDJSON stream -> watermark ->
    dropDuplicatesWithinWatermark(keys) -> append NDJSON sink. The first
    arrival of each key wins; replays inside the watermark window are
    dropped. State holds one entry per key seen within the watermark —
    bounded by key arrival rate * watermark, not stream length — and the
    watermark evicts expired keys, which is what keeps this runnable
    forever at 100 TB/day (an unwatermarked dropDuplicates grows state
    without bound). ``trigger_seconds=None`` runs availableNow
    (drain-and-stop); a number gives the processing-time cadence.
    """
    keys = key_cols or ["event_id"]
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.json(source_dir)
    deduped = stream.withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(keys)
    writer = (
        deduped.writeStream.format("json")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_seconds is None:
        return writer.trigger(availableNow=True)
    return writer.trigger(processingTime=f"{trigger_seconds} seconds")


def stream_stream_join_job(
    spark,
    left_dir: str,
    right_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    left_schema: T.StructType | str,
    right_schema: T.StructType | str,
    join_key: str = "event_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    within: str = "interval 15 minutes",
    trigger_seconds: int | None = None,
):
    """Watermarked stream-stream inner join: two file-source NDJSON
    streams joined on ``join_key`` with the event-time range condition
    ``right.ts BETWEEN left.ts - within AND left.ts + within``
    (the enrich-clicks-with-impressions shape). Both sides carry
    watermarks AND the join has a time-range predicate — the two
    conditions Spark needs to bound state: each side buffers only rows
    younger than watermark + range, and evicts as the watermark
    advances, which is what keeps a forever-running join from growing
    state with stream length at 100 TB/day. Output columns are the key,
    both event times, and each side's payload columns suffixed _l/_r.
    ``trigger_seconds=None`` runs availableNow (drain-and-stop).
    """
    left = (
        spark.readStream.schema(left_schema)
        .option("maxFilesPerTrigger", "1")
        .json(left_dir)
        .withWatermark(left_ts, watermark)
    )
    right = (
        spark.readStream.schema(right_schema)
        .option("maxFilesPerTrigger", "1")
        .json(right_dir)
        .withWatermark(right_ts, watermark)
    )
    lcols = [c for c in left.columns if c not in (join_key, left_ts)]
    rcols = [c for c in right.columns if c not in (join_key, right_ts)]
    l = left.select(
        F.col(join_key),
        F.col(left_ts).alias("_lts"),
        *[F.col(c).alias(f"{c}_l") for c in lcols],
    )
    r = right.select(
        F.col(join_key).alias("_rk"),
        F.col(right_ts).alias("_rts"),
        *[F.col(c).alias(f"{c}_r") for c in rcols],
    )
    joined = l.join(
        r,
        F.expr(
            f"{join_key} = _rk AND "
            f"_rts BETWEEN _lts - {within} AND _lts + {within}"
        ),
        "inner",
    ).drop("_rk")
    writer = (
        joined.writeStream.format("json")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_seconds is None:
        return writer.trigger(availableNow=True)
    return writer.trigger(processingTime=f"{trigger_seconds} seconds")


def stream_static_enrich_job(
    spark,
    source_dir: str,
    dim_path: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | str,
    join_key: str,
    trigger_seconds: int | None = None,
):
    """Stream-static broadcast enrichment: an NDJSON fact stream joined
    per-micro-batch to a parquet dimension, appended as NDJSON.

    The third cell of the streaming-join matrix (stream-stream and
    streaming dedup are above): a stream-static join needs NO watermark
    and keeps NO join state — each micro-batch probes the (broadcast)
    dimension. NOTE on refresh semantics: for a parquet static side the
    FILE LISTING is resolved at plan time, so dimension files added (or
    rewritten — which can error) while the query runs are NOT seen;
    picking up dimension updates requires restarting the query, a
    snapshot-refreshing table format, or re-reading the dimension inside
    a foreachBatch join. Left join: facts with no dimension row survive
    with nulls (monitorable), never silently dropped."""
    from pyspark.sql import functions as F  # noqa: F811

    stream = spark.readStream.schema(schema).json(source_dir)
    dim = spark.read.parquet(dim_path)
    enriched = stream.join(F.broadcast(dim), join_key, "left")
    writer = (
        enriched.writeStream.format("json")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is None:
        return writer.trigger(availableNow=True)
    return writer.trigger(processingTime=f"{trigger_seconds} seconds")
