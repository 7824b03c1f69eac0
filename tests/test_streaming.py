"""Streaming tests: batch-replay window semantics and replay/stream
equivalence for the bot sliding window (SURVEY.md 5 test plan)."""

from __future__ import annotations

import datetime
import shutil
import tempfile

from kaspi_etl_spark.streaming import watch


def _events(spark):
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    rows = []
    # seller "bot" undercuts (price == min) on 4 of 5 ticks; "slow" never.
    for i in range(5):
        ts = t0 + datetime.timedelta(minutes=i)
        bot_price = 10000 if i != 2 else 10100
        rows.append(("v1", "bot", ts, bot_price))
        rows.append(("v1", "slow", ts, 10500))
        rows.append(("v1", "anchor", ts, 10000))  # defines the minimum
    return spark.createDataFrame(rows, "variantId string, seller string, ts timestamp, price long")


def test_bot_flags_replay(spark):
    out = watch.bot_flags_replay(_events(spark))
    rows = {(r.seller, r.ts.minute): r.isPriceBot for r in out.collect()}
    # bot seller: undercut bits over ticks = 1,1,0,1,1 -> cumulative window
    # sums 1,2,2,3,4 -> flagged from tick 3 on (>=3 of last 5)
    assert rows[("bot", 0)] is False
    assert rows[("bot", 3)] is True
    assert rows[("bot", 4)] is True
    assert all(not rows[("slow", m)] for m in range(5))


def test_stream_matches_replay(spark):
    """Feed the same ticks through the stateful streaming path (one tick
    per micro-batch via MemoryStream-less foreachBatch simulation) and
    compare with batch replay.

    The streaming path computes the variant minimum per batch; with the
    anchor seller always at the global minimum, the per-batch and global
    minimum agree, so the two implementations must match exactly.
    """
    events = _events(spark)
    src = tempfile.mkdtemp(prefix="watch_src_")
    sink = tempfile.mkdtemp(prefix="watch_sink_")
    ckpt = tempfile.mkdtemp(prefix="watch_ckpt_")
    try:
        # one JSON file per tick -> maxFilesPerTrigger=1 gives one tick per
        # micro-batch, matching the reference's tick == batch semantics
        ticks = sorted({r.ts for r in events.select("ts").distinct().collect()})
        for i, ts in enumerate(ticks):
            events.filter(events.ts == ts).coalesce(1).write.mode("overwrite").json(
                f"{src}/tick_{i}"
            )

        stream = (
            spark.readStream.schema("variantId string, seller string, ts timestamp, price long")
            .option("maxFilesPerTrigger", "1")
            .json(f"{src}/tick_*")
        )
        q = (
            watch.bot_flags_stream(stream)
            .writeStream.format("json")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.read.schema(
            "variantId string, seller string, ts timestamp, price long, isPriceBot boolean"
        ).json(sink)
        got_map = {(r.seller, r.ts): r.isPriceBot for r in got.collect()}
        want = watch.bot_flags_replay(events)
        want_map = {(r.seller, r.ts): r.isPriceBot for r in want.collect()}
        assert len(got_map) == len(want_map) == 15
        assert got_map == want_map
    finally:
        for d in (src, sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_v2_matches_replay(spark):
    """transformWithStateInPandas implementation must agree with the
    batch replay exactly (same setup as test_stream_matches_replay)."""
    import pytest

    if not watch.tws_available():
        pytest.skip("google.protobuf absent: transformWithState needs it")
    events = _events(spark)
    src = tempfile.mkdtemp(prefix="watch2_src_")
    sink = tempfile.mkdtemp(prefix="watch2_sink_")
    ckpt = tempfile.mkdtemp(prefix="watch2_ckpt_")
    try:
        ticks = sorted({r.ts for r in events.select("ts").distinct().collect()})
        for i, ts in enumerate(ticks):
            events.filter(events.ts == ts).coalesce(1).write.mode("overwrite").json(
                f"{src}/tick_{i}"
            )
        stream = (
            spark.readStream.schema("variantId string, seller string, ts timestamp, price long")
            .option("maxFilesPerTrigger", "1")
            .json(f"{src}/tick_*")
        )
        q = (
            watch.bot_flags_stream_v2(stream)
            .writeStream.format("json")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.schema(
            "variantId string, seller string, ts timestamp, price long, isPriceBot boolean"
        ).json(sink)
        got_map = {(r.seller, r.ts): r.isPriceBot for r in got.collect()}
        want = watch.bot_flags_replay(events)
        want_map = {(r.seller, r.ts): r.isPriceBot for r in want.collect()}
        assert got_map == want_map and len(got_map) == 15
    finally:
        for d in (src, sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_flag_group_chunked_tick_single_min():
    """A variant group larger than arrow.maxRecordsPerBatch arrives as
    multiple pandas chunks. A ts tick split across chunks must still be
    scored against ONE tick minimum over the whole group, with exactly
    one ring-buffer append per seller — not per fragment."""
    import json

    import pandas as pd

    class FakeState:
        exists = False
        get = None

        def update(self, value):
            self.value = value

    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    # One tick split across two chunks: the true minimum (9000) is only
    # in the second chunk. Unfixed per-chunk logic would see vmin=10000
    # in chunk 1 and flag "bot" as undercutting; the whole-group minimum
    # puts it 1000 over (margin is 50), so its undercut bit must be 0.
    c1 = pd.DataFrame(
        {"variantId": ["v1"], "seller": ["bot"], "ts": [t0], "price": [10000]}
    )
    c2 = pd.DataFrame(
        {"variantId": ["v1"], "seller": ["anchor"], "ts": [t0], "price": [9000]}
    )
    state = FakeState()
    (out,) = list(watch._flag_group(("v1",), [c1, c2], state))
    assert len(out) == 2  # one output row per seller for the tick
    bufs = json.loads(state.value[0])
    assert bufs["bot"] == [0]  # scored against the cross-chunk minimum
    assert bufs["anchor"] == [1]
    assert all(len(v) == 1 for v in bufs.values())  # no double appends


# --- the shared price-watch kernel, driven without Spark -------------------


class _GroupState:
    """In-memory stand-in for applyInPandasWithState's GroupState."""

    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _reference_batch(bufs, rows):
    """Pure-Python reference for one variant's micro-batch
    (price_watch.ts:31-52): rows are (seller, ts, price) in arrival order,
    price None for NULL. NULL-ts rows are dropped; ticks run in ts order,
    rows of a tick in arrival order; the tick's minimum positive price sets
    the undercut line. Rolls ``bufs`` ({seller: [bits]}) in place and
    returns [(seller, ts, price, isPriceBot)]."""
    out = []
    for ts in sorted({r[1] for r in rows if r[1] is not None}):
        tick = [r for r in rows if r[1] == ts]
        positive = [p for _, _, p in tick if p is not None and p > 0]
        line = min(positive) if positive else None
        for seller, _, price in tick:
            bit = int(line is not None and price is not None and 0 < price <= line + 50)
            buf = bufs.setdefault(seller, [])
            buf.append(bit)
            del buf[:-5]
            out.append((seller, ts, price, sum(buf) >= 3))
    return out


def _chunks(rows, cuts):
    """Arrow-shaped pandas chunks of (seller, ts, price) rows: a NULL
    price makes the column float64 with NaN, a NULL ts is NaT."""
    import pandas as pd

    frame = pd.DataFrame(
        {
            "variantId": ["v1"] * len(rows),
            "seller": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]),
            "price": [float("nan") if r[2] is None else r[2] for r in rows],
        }
    )
    if not any(r[2] is None for r in rows):
        frame["price"] = frame["price"].astype("int64")
    edges = [0, *cuts, len(rows)]
    return [frame.iloc[a:b].reset_index(drop=True) for a, b in zip(edges, edges[1:])]


def _rows_of(out):
    import pandas as pd

    return [
        (r.seller, r.ts.to_pydatetime(), None if pd.isna(r.price) else int(r.price), r.isPriceBot)
        for r in out.itertuples()
    ]


def _random_batch(rng, t0, first_tick):
    """1-3 ticks of a few sellers, shuffled across ticks, with zero and
    NULL prices, NULL-ts rows, repeated sellers and a tick that may hold
    no positive price at all."""
    rows = []
    for tick in range(first_tick, first_tick + rng.randint(1, 3)):
        ts = t0 + datetime.timedelta(minutes=tick)
        dead = rng.random() < 0.2  # no positive price in this tick
        for _ in range(rng.randint(1, 8)):
            price = rng.choice([0, None, 1000, 1020, 1049, 1050, 1051, 1100, 5000])
            if dead and price:
                price = rng.choice([0, None])
            rows.append((f"s{rng.randint(0, 4)}", ts, price))
    for _ in range(rng.randint(0, 2)):
        rows.append((f"s{rng.randint(0, 4)}", None, rng.choice([900, None])))
    rng.shuffle(rows)
    return rows


def test_flag_group_matches_reference_on_random_groups():
    """_flag_group against the pure-Python ring buffers over seeded
    random micro-batches: several ticks per batch out of order, ticks
    split across Arrow chunks, NULL and zero prices, NULL ts, repeated
    sellers; outputs (in order) and decoded states must match."""
    import json
    import random

    rng = random.Random(20251018)
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    for trial in range(60):
        state, bufs, tick = _GroupState(), {}, 0
        for batch in range(rng.randint(1, 5)):
            rows = _random_batch(rng, t0, tick)
            tick += 4
            cuts = sorted(rng.sample(range(1, len(rows)), min(2, len(rows) - 1)))
            want = _reference_batch(bufs, rows)
            (out,) = list(watch._flag_group(("v1",), _chunks(rows, cuts), state))
            assert list(out.columns) == ["variantId", "seller", "ts", "price", "isPriceBot"]
            assert (out["variantId"] == "v1").all()
            assert _rows_of(out) == want, f"trial {trial} batch {batch}"
            assert json.loads(state.value[0]) == bufs, f"trial {trial} batch {batch}"


def test_flag_group_tick_without_positive_price_sets_no_bits():
    import json

    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    rows = [("a", t0, 0), ("b", t0, None), ("c", t0, 0)]
    state = _GroupState()
    (out,) = list(watch._flag_group(("v1",), _chunks(rows, []), state))
    assert len(out) == 3 and not out["isPriceBot"].any()
    assert json.loads(state.value[0]) == {"a": [0], "b": [0], "c": [0]}


def test_flag_group_null_ts_rows_are_dropped():
    import json

    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    state = _GroupState()
    (out,) = list(watch._flag_group(("v1",), _chunks([("a", None, 100)], []), state))
    assert len(out) == 0 and json.loads(state.value[0]) == {}
    rows = [("a", None, 100), ("b", t0, 500), ("a", None, 90)]
    (out,) = list(watch._flag_group(("v1",), _chunks(rows, [1]), state))
    assert _rows_of(out) == [("b", t0, 500, False)]
    assert json.loads(state.value[0]) == {"b": [1]}  # no append for "a"


def test_flag_group_repeated_seller_appends_in_input_order():
    """A seller quoted twice in one tick appends both bits, in arrival
    order, even where the tick is large enough for an unstable sort to
    reorder equal keys."""
    import json

    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    rows = [(f"f{i}", t0, 2000) for i in range(40)]
    rows[3] = ("dup", t0, 1000)  # the tick minimum: undercut
    rows[30] = ("dup", t0, 1500)  # 500 over: no undercut
    rows[35] = ("dup", t0, 1040)  # inside the margin: undercut
    state = _GroupState()
    (out,) = list(watch._flag_group(("v1",), _chunks(rows, [17]), state))
    assert json.loads(state.value[0])["dup"] == [1, 0, 1]
    assert [r[0] for r in _rows_of(out)] == [r[0] for r in rows]


def test_flag_group_resumes_from_encoded_state():
    """A state written in the STATE_SCHEMA encoding ({seller: [bits]} as
    JSON, as existing checkpoints hold it) resumes: the window keeps its
    last 5 bits and a seller absent from the batch keeps its buffer."""
    import json

    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    prior = {"bot": [1, 1, 0, 1, 0], "slow": [0, 0, 0, 0, 0], "gone": [1, 1, 1]}
    state = _GroupState((json.dumps(prior),))
    rows = [("bot", t0, 1000), ("slow", t0, 1900), ("new", t0, 1010)]
    (out,) = list(watch._flag_group(("v1",), _chunks(rows, []), state))
    assert _rows_of(out) == [
        ("bot", t0, 1000, True),  # 1,0,1,0,1: three of five
        ("slow", t0, 1900, False),
        ("new", t0, 1010, False),
    ]
    assert json.loads(state.value[0]) == {
        "bot": [1, 0, 1, 0, 1],
        "slow": [0, 0, 0, 0, 0],
        "gone": [1, 1, 1],
        "new": [1],
    }
    bufs = dict(prior)
    assert _reference_batch(bufs, rows) == _rows_of(out)


def test_bot_flag_processor_uses_the_shared_kernel():
    """transformWithStateInPandas' adapter, driven without Spark through
    a stand-in handle: same outputs and same state encoding as
    _flag_group on the same batches."""
    import random

    class ValueState:
        def __init__(self):
            self.value = None

        def exists(self):
            return self.value is not None

        def get(self):
            return self.value

        def update(self, value):
            self.value = value

    class Handle:
        def getValueState(self, name, schema):
            self.state = ValueState()
            return self.state

    rng = random.Random(7)
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    proc, handle, group_state = watch.BotFlagProcessor(), Handle(), _GroupState()
    proc.init(handle)
    for batch in range(6):
        rows = _random_batch(rng, t0, 4 * batch)
        (got,) = list(proc.handleInputRows(("v1",), iter(_chunks(rows, [1])), None))
        (want,) = list(watch._flag_group(("v1",), _chunks(rows, [1]), group_state))
        assert _rows_of(got) == _rows_of(want)
        assert handle.state.value == group_state.value
    proc.close()


def _write_ticks(src, ticks, first):
    """One NDJSON file per tick in the PRICE_WATCH_EVENTS layout; every
    (variant, seller) quotes once per tick. Returns the reference rows
    (variantId, seller, epoch_s, price)."""
    import json
    import random

    rows_out = []
    for tick in range(first, first + ticks):
        rng = random.Random(tick)
        epoch = 1_756_728_000 + 60 * tick
        iso = datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
        rows = [
            (f"v{v}", f"s{s}", epoch, rng.choice([0, 1000 + rng.randint(-40, 160)]))
            for v in range(4)
            for s in range(5)
        ]
        with open(f"{src}/tick-{tick:03d}.json", "w") as f:
            for variant, seller, _, price in rows:
                f.write(json.dumps({"ts": iso, "masterProductId": "m", "variantId": variant,
                                    "seller": seller, "price": price, "variantColor": "red"}) + "\n")
        rows_out.append(rows)
    return rows_out


def _reference_stream(ticks):
    bufs: dict = {}
    out = []
    for rows in ticks:
        for variant in sorted({r[0] for r in rows}):
            mine = [(s, t, p) for v, s, t, p in rows if v == variant]
            got = _reference_batch(bufs.setdefault(variant, {}), mine)
            out += [(variant, s, t, p, f) for s, t, p, f in got]
    return sorted(out)


def _read_flags(spark, sink):
    from pyspark.sql import functions as F

    got = spark.read.schema(
        "variantId string, seller string, ts timestamp, price long, isPriceBot boolean"
    ).json(sink)
    return sorted(
        tuple(r)
        for r in got.select(
            "variantId", "seller", F.unix_timestamp("ts"), "price", "isPriceBot"
        ).collect()
    )


def test_watch_stream_job_feeds_the_kernel_four_columns(spark):
    """Plan pin: the stateful operator's input is exactly the 4 columns
    the kernel reads, whatever PRICE_WATCH_EVENTS carries besides."""
    from kaspi_etl_spark.schemas import PRICE_WATCH_EVENTS

    src = tempfile.mkdtemp(prefix="wsj4_src_")
    try:
        job = watch.watch_stream_job(spark, src, f"{src}/sink", f"{src}/ckpt")
        plan = job._df._jdf.queryExecution().analyzed()
        nodes, stack = [], [plan]
        while stack:
            node = stack.pop()
            if node.nodeName() == "FlatMapGroupsInPandasWithState":
                nodes.append(node)
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())
        assert len(nodes) == 1
        it = nodes[0].child().output().iterator()
        cols = []
        while it.hasNext():
            cols.append(it.next().name())
        assert cols == ["variantId", "seller", "ts", "price"]
        assert len(PRICE_WATCH_EVENTS.fields) > len(cols)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_watch_stream_job_restart_resumes_state(spark):
    """Run ticks, stop, restart on the same checkpoint, run more ticks:
    the ring buffers resume from the checkpointed state, and every flag
    equals the pure-Python reference over all ticks. Each run drains its
    backlog as one micro-batch, so batches hold several ticks."""
    src = tempfile.mkdtemp(prefix="wsjr_src_")
    sink = tempfile.mkdtemp(prefix="wsjr_sink_")
    ckpt = tempfile.mkdtemp(prefix="wsjr_ckpt_")
    try:
        ticks = _write_ticks(src, 3, 0)
        for run in range(2):
            job = watch.watch_stream_job(spark, src, sink, ckpt)
            q = job.trigger(availableNow=True).start()
            q.awaitTermination(180)
            assert q.exception() is None
            assert _read_flags(spark, sink) == _reference_stream(ticks)
            if run == 0:
                ticks += _write_ticks(src, 4, 3)
        # flags in ticks 3 and 4 need bits from before the restart: a
        # restart that lost the state could not raise them
        early = 1_756_728_000 + 60 * 5
        assert any(f for _, _, ts, _, f in _reference_stream(ticks) if ts < early)
    finally:
        for d in (src, sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_drop_duplicates_within_watermark_stream(spark):
    """Streaming form of the events_dedup operator: duplicate event ids
    arriving within the watermark window are dropped; state is bounded by
    the watermark (keys older than it are evicted). One batch replays an
    id from batch 0 — the replay must not re-emit."""
    src = tempfile.mkdtemp(prefix="dd_src_")
    sink = tempfile.mkdtemp(prefix="dd_sink_")
    ckpt = tempfile.mkdtemp(prefix="dd_ckpt_")
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    try:
        import time as _time

        def tick(idx, rows):
            spark.createDataFrame(
                rows, "event_id long, ts timestamp, value double"
            ).coalesce(1).write.mode("overwrite").json(f"{src}/tick_{idx}")

        tick(0, [(1, t0, 1.0), (2, t0, 2.0)])
        _time.sleep(1.2)
        # batch 1: id 1 replays (dropped), id 3 is new (kept)
        tick(1, [(1, t0 + datetime.timedelta(minutes=1), 99.0),
                 (3, t0 + datetime.timedelta(minutes=1), 3.0)])

        q = watch.dedup_stream_job(
            spark,
            f"{src}/tick_*",
            sink,
            ckpt,
            schema="event_id long, ts timestamp, value double",
            key_cols=["event_id"],
        ).start()
        q.awaitTermination(120)
        got = spark.read.schema("event_id long, ts timestamp, value double").json(sink)
        rows = {r.event_id: r.value for r in got.collect()}
        assert rows == {1: 1.0, 2: 2.0, 3: 3.0}  # replayed id 1 kept its first value
    finally:
        for d in (src, sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_windowed_price_stats_batch(spark):
    # watermark + tumbling window sanity on a batch frame (same plan shape
    # the streaming job uses)
    out = watch.windowed_price_stats(_events(spark)).collect()
    # 5 minutes of data -> one 5-min window
    assert len(out) == 1
    assert out[0].min_price == 10000 and out[0].max_price == 10500


def test_session_windows_merge_in_streaming(spark):
    """Streaming form of events_session_windows: session_window + watermark
    merges events within the 30-min gap across micro-batches and emits the
    closed session once the watermark passes it. Two sessions for one user
    (gap > 30 min) must come out as two rows with correct counts."""
    import time as _time

    src = tempfile.mkdtemp(prefix="sw_src_")
    sink = tempfile.mkdtemp(prefix="sw_sink_")
    ckpt = tempfile.mkdtemp(prefix="sw_ckpt_")
    t = lambda h, m: datetime.datetime(2025, 9, 1, h, m, 0)  # noqa: E731
    try:
        def tick(idx, rows):
            spark.createDataFrame(rows, "user_id long, ts timestamp, v long").coalesce(
                1
            ).write.mode("overwrite").json(f"{src}/tick_{idx}")

        # session 1: three events 12:00-12:20 (each within 30 min of prior)
        tick(0, [(1, t(12, 0), 10), (1, t(12, 20), 5)])
        _time.sleep(1.2)
        tick(1, [(1, t(12, 40), 1)])  # still session 1 (20-min gap)
        _time.sleep(1.2)
        # session 2 after a >30-min gap; 18:00 pushes the watermark far
        # enough to close and emit both sessions
        tick(2, [(1, t(14, 0), 7), (1, t(18, 0), 0)])

        q = watch.session_stream_job(
            spark,
            source_dir=f"{src}/tick_*",
            sink_dir=sink,
            checkpoint_dir=ckpt,
            schema="user_id long, ts timestamp, v long",
        ).start()
        q.awaitTermination(120)
        got = spark.read.schema(
            "user_id long, session_start timestamp, n_events long, sum_v long"
        ).json(sink)
        by_start = {r.session_start: (r.n_events, r.sum_v) for r in got.collect()}
        # session 1 merged across micro-batches: 3 events, sum 16
        assert by_start[t(12, 0)] == (3, 16)
        # session 2 (14:00) closed by the 18:00 watermark advance
        assert by_start[t(14, 0)] == (1, 7)
    finally:
        for d in (src, sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_watermark_drops_late_data(spark):
    """Watermarked tumbling windows, actual Spark semantics: a late row
    merges while its window's state is still live, and is DROPPED once
    the watermark has evicted that window (verified: the closed window
    emits without the late row)."""
    import datetime
    import time as _time

    src = tempfile.mkdtemp(prefix="wm_src_")
    sink = tempfile.mkdtemp(prefix="wm_sink_")
    ckpt = tempfile.mkdtemp(prefix="wm_ckpt_")
    t = lambda h, m: datetime.datetime(2025, 9, 1, h, m, 0)  # noqa: E731
    try:
        def write_tick(idx, rows):
            spark.createDataFrame(
                rows, "variantId string, seller string, ts timestamp, price long"
            ).coalesce(1).write.mode("overwrite").json(f"{src}/tick_{idx}")

        # batch 0: two events in the 12:00 window + 13:00 (watermark
        # advances to 12:50 after this batch)
        write_tick(0, [("v1", "s1", t(12, 1), 100), ("v1", "s2", t(12, 2), 200),
                       ("v1", "s1", t(13, 0), 500)])
        _time.sleep(1.2)  # distinct mtimes: file source orders batches by mtime
        # batch 1: watermark 12:50 evicts + emits the 12:00 window
        write_tick(1, [("v1", "s1", t(14, 0), 700)])
        _time.sleep(1.2)
        # batch 2: late event for the ALREADY-CLOSED 12:00 window ->
        # dropped by the watermark; 15:00 flushes the rest
        write_tick(2, [("v1", "s9", t(12, 3), 999), ("v1", "s1", t(15, 0), 800)])

        stream = (
            spark.readStream.schema(
                "variantId string, seller string, ts timestamp, price long"
            )
            .option("maxFilesPerTrigger", "1")
            .json(f"{src}/tick_*")
        )
        q = (
            watch.windowed_price_stats(stream, watermark="10 minutes")
            .select(
                "variantId",
                "n",
                "min_price",
                "max_price",
                watch.F.col("w.start").alias("ws"),
            )
            .writeStream.format("json")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.read.schema(
            "variantId string, n long, min_price long, max_price long, ws timestamp"
        ).json(sink)
        by_start = {r.ws: (r.n, r.min_price, r.max_price) for r in out.collect()}
        # the 12:00 window closed with ONLY the two on-time events —
        # the late 999 never appears
        assert by_start[t(12, 0)] == (2, 100, 200)
        assert all(v[1] != 999 and v[2] != 999 for v in by_start.values())
    finally:
        for d in (src, sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_join_within_range(spark):
    """Watermarked stream-stream join: a click joins the impression with
    the same id inside the +/-15-min event-time range; an out-of-range
    pair must NOT join. Both sides watermarked + range predicate =
    bounded state (Spark rejects an unbounded stream-stream join in
    append mode without them)."""
    import time as _time

    imp = tempfile.mkdtemp(prefix="ssj_imp_")
    clk = tempfile.mkdtemp(prefix="ssj_clk_")
    sink = tempfile.mkdtemp(prefix="ssj_sink_")
    ckpt = tempfile.mkdtemp(prefix="ssj_ckpt_")
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    try:
        spark.createDataFrame(
            [(1, t0, "banner"), (2, t0, "video")],
            "event_id long, ts timestamp, creative string",
        ).coalesce(1).write.mode("overwrite").json(f"{imp}/tick_0")
        spark.createDataFrame(
            [
                (1, t0 + datetime.timedelta(minutes=5), 0.5),   # in range
                (2, t0 + datetime.timedelta(minutes=40), 0.9),  # out of range
            ],
            "event_id long, ts timestamp, cost double",
        ).coalesce(1).write.mode("overwrite").json(f"{clk}/tick_0")

        q = watch.stream_stream_join_job(
            spark,
            f"{imp}/tick_*",
            f"{clk}/tick_*",
            sink,
            ckpt,
            left_schema="event_id long, ts timestamp, creative string",
            right_schema="event_id long, ts timestamp, cost double",
        ).start()
        q.awaitTermination(120)
        got = spark.read.schema(
            "event_id long, _lts timestamp, creative_l string, _rts timestamp, cost_r double"
        ).json(sink)
        rows = {r.event_id: r for r in got.collect()}
        assert set(rows) == {1}
        assert rows[1].creative_l == "banner" and rows[1].cost_r == 0.5
    finally:
        for d in (imp, clk, sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_static_enrich_job(spark, tmp_path):
    import json as _json
    import glob as _glob

    from pyspark.sql import functions as F

    from kaspi_etl_spark.streaming import watch

    src = str(tmp_path / "src")
    dimp = str(tmp_path / "dim")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300), (9, 900)], "sku long, qty long"
    ).coalesce(1).write.json(src)
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "sku long, name string"
    ).write.parquet(dimp)

    q = watch.stream_static_enrich_job(
        spark,
        source_dir=src,
        dim_path=dimp,
        sink_dir=sink,
        checkpoint_dir=ckpt,
        schema="sku long, qty long",
        join_key="sku",
    ).start()
    q.awaitTermination(120)

    rows = []
    for f in _glob.glob(f"{sink}/*.json"):
        with open(f) as fh:
            rows += [_json.loads(ln) for ln in fh if ln.strip()]
    by_sku = {r["sku"]: r for r in rows}
    assert by_sku[1]["name"] == "alpha" and by_sku[3]["name"] == "gamma"
    # unmatched fact survives the LEFT join with a null dimension value
    assert 9 in by_sku and by_sku[9].get("name") is None


def test_session_stream_on_rocksdb_state_store(spark):
    """The 100 TB state story, tested rather than asserted: the same
    sessionization job runs on the RocksDB state store provider (the
    spill-to-disk store a real cluster uses when streaming state exceeds
    executor heap). Verifies (a) results identical to the default
    HDFS-backed store, (b) the provider actually engaged (RocksDB custom
    metrics present in progress), and (c) watermark eviction bounds the
    state (closed sessions leave the store)."""
    import time as _time

    src = tempfile.mkdtemp(prefix="rdb_src_")
    sink = tempfile.mkdtemp(prefix="rdb_sink_")
    ckpt = tempfile.mkdtemp(prefix="rdb_ckpt_")
    t = lambda h, m: datetime.datetime(2025, 9, 1, h, m, 0)  # noqa: E731
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    try:
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )

        def tick(idx, rows):
            spark.createDataFrame(rows, "user_id long, ts timestamp, v long").coalesce(
                1
            ).write.mode("overwrite").json(f"{src}/tick_{idx}")

        tick(0, [(1, t(12, 0), 10), (1, t(12, 20), 5)])
        _time.sleep(1.2)
        tick(1, [(1, t(12, 40), 1)])
        _time.sleep(1.2)
        tick(2, [(1, t(14, 0), 7), (1, t(18, 0), 0)])

        q = watch.session_stream_job(
            spark,
            source_dir=f"{src}/tick_*",
            sink_dir=sink,
            checkpoint_dir=ckpt,
            schema="user_id long, ts timestamp, v long",
        ).start()
        q.awaitTermination(180)
        progress = list(q.recentProgress)

        got = spark.read.schema(
            "user_id long, session_start timestamp, n_events long, sum_v long"
        ).json(sink)
        by_start = {r.session_start: (r.n_events, r.sum_v) for r in got.collect()}
        # identical results to the default-provider test above
        assert by_start[t(12, 0)] == (3, 16)
        assert by_start[t(14, 0)] == (1, 7)

        state_ops = [
            so for p in progress for so in (p.get("stateOperators") or [])
        ]
        assert state_ops, "no stateful operator progress recorded"
        # RocksDB provider actually engaged: its custom metrics ride in
        # the progress (absent entirely under the HDFS-backed default)
        assert any(
            any(k.startswith("rocksdb") for k in (so.get("customMetrics") or {}))
            for so in state_ops
        ), "RocksDB custom metrics missing - provider did not engage"
        # eviction: closed sessions were removed from the store, and the
        # final state holds at most the open tail session
        assert sum(so.get("numRowsRemoved", 0) for so in state_ops) >= 2
        assert state_ops[-1].get("numRowsTotal", 99) <= 1
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
        for d in (src, sink, ckpt):
            shutil.rmtree(d, ignore_errors=True)
