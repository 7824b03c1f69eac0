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
    """A bucket group larger than arrow.maxRecordsPerBatch arrives as
    multiple pandas chunks. A ts tick split across chunks must still be
    scored against ONE minimum per (variant, tick) over the whole group,
    with exactly one ring-buffer append per seller — not per fragment."""
    import pandas as pd

    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    # One tick split across two chunks: v1's true minimum (9000) is only
    # in the second chunk. Per-chunk logic would see vmin=10000 in chunk 1
    # and flag v1's "bot" as undercutting; the whole-group minimum puts it
    # 1000 over (margin is 50), so its undercut bit must be 0. v2 shares
    # the bucket and the tick, but its minimum is its own.
    c1 = pd.DataFrame(
        {"variantId": ["v1", "v2"], "seller": ["bot", "bot"], "ts": [t0, t0],
         "price": [10000, 10000]}
    )
    c2 = pd.DataFrame(
        {"variantId": ["v1"], "seller": ["anchor"], "ts": [t0], "price": [9000]}
    )
    state = _GroupState()
    (out,) = list(watch._flag_group((7,), [c1, c2], state))
    assert len(out) == 3  # one output row per (variant, seller) for the tick
    assert _decoded(state) == {  # one append each, against each variant's minimum
        ("v1", "bot"): [0, 0, 0, 0, 0],
        ("v1", "anchor"): [0, 0, 0, 0, 1],
        ("v2", "bot"): [0, 0, 0, 0, 1],
    }


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


def _reference_batch(rings, rows):
    """Pure-Python reference for one bucket's micro-batch
    (price_watch.ts:31-52): rows are (variantId, seller, ts, price) in
    arrival order, None for NULL. NULL-ts rows are dropped; variants run
    in order of first appearance, a variant's ticks in ts order and the
    rows of a tick in arrival order; the (variant, tick) minimum positive
    price sets the undercut line. Rolls ``rings`` ({(variantId, seller):
    [bits]}, NULLs included in the key) in place and returns
    [(variantId, seller, ts, price, isPriceBot)]."""
    out = []
    timed = [r for r in rows if r[2] is not None]
    for variant in dict.fromkeys(r[0] for r in timed):
        mine = [r for r in timed if r[0] == variant]
        for ts in sorted({r[2] for r in mine}):
            tick = [r for r in mine if r[2] == ts]
            positive = [p for *_, p in tick if p is not None and p > 0]
            line = min(positive) if positive else None
            for _, seller, _, price in tick:
                bit = int(line is not None and price is not None and 0 < price <= line + 50)
                buf = rings.setdefault((variant, seller), [])
                buf.append(bit)
                del buf[:-5]
                out.append((variant, seller, ts, price, sum(buf) >= 3))
    return out


def _decoded(state):
    """A bucket's state row as {(variantId, seller): last 5 bits, oldest
    first}; a ring with fewer ticks reads zeros before them."""
    return {
        (variant, seller): [ring >> i & 1 for i in range(4, -1, -1)]
        for variant, by_seller in watch._load_rings(state.value).items()
        for seller, ring in by_seller.items()
    }


def _padded(rings):
    return {key: [0] * (5 - len(bits)) + bits for key, bits in rings.items()}


def _chunks(rows, cuts):
    """Arrow-shaped pandas chunks of (variantId, seller, ts, price) rows,
    with the bucket column the stream adds: a NULL price makes the column
    float64 with NaN, a NULL ts is NaT."""
    import pandas as pd

    frame = pd.DataFrame(
        {
            "variantId": [r[0] for r in rows],
            "seller": [r[1] for r in rows],
            "ts": pd.to_datetime([r[2] for r in rows]),
            "price": [float("nan") if r[3] is None else r[3] for r in rows],
            "bucket": [7] * len(rows),
        }
    )
    if not any(r[3] is None for r in rows):
        frame["price"] = frame["price"].astype("int64")
    edges = [0, *cuts, len(rows)]
    return [frame.iloc[a:b].reset_index(drop=True) for a, b in zip(edges, edges[1:])]


def _rows_of(out):
    import pandas as pd

    return [
        (r.variantId, r.seller, r.ts.to_pydatetime(),
         None if pd.isna(r.price) else int(r.price), r.isPriceBot)
        for r in out.itertuples()
    ]


_VARIANTS = ["v1", "v2", "v3", "None", None]
_SELLERS = ["s0", "s1", "s2", "None", None]


def _random_batch(rng, t0, first_tick):
    """1-3 ticks of a few variants and sellers, shuffled across ticks,
    with zero and NULL prices, NULL-ts rows, NULL variantIds and sellers
    next to ones named "None", repeated sellers and a (variant, tick) that
    may hold no positive price at all."""
    rows = []
    variants = rng.sample(_VARIANTS, rng.randint(1, 4))
    for tick in range(first_tick, first_tick + rng.randint(1, 3)):
        ts = t0 + datetime.timedelta(minutes=tick)
        for variant in variants:
            dead = rng.random() < 0.2  # no positive price in this tick
            for _ in range(rng.randint(1, 6)):
                price = rng.choice([0, None, 1000, 1020, 1049, 1050, 1051, 1100, 5000])
                if dead and price:
                    price = rng.choice([0, None])
                rows.append((variant, rng.choice(_SELLERS), ts, price))
    for _ in range(rng.randint(0, 2)):
        rows.append((rng.choice(variants), rng.choice(_SELLERS), None, rng.choice([900, None])))
    rng.shuffle(rows)
    return rows


def test_flag_group_matches_reference_on_random_groups():
    """_flag_group against the pure-Python ring buffers over seeded
    random bucket micro-batches of several variants each: several ticks
    per batch out of order, ticks split across Arrow chunks, NULL and zero
    prices, NULL ts, NULL variantIds and sellers, repeated sellers;
    outputs (in order) and decoded states must match."""
    import random

    rng = random.Random(20251018)
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    for trial in range(60):
        state, rings, tick = _GroupState(), {}, 0
        for batch in range(rng.randint(1, 5)):
            rows = _random_batch(rng, t0, tick)
            tick += 4
            cuts = sorted(rng.sample(range(1, len(rows)), min(2, len(rows) - 1)))
            want = _reference_batch(rings, rows)
            (out,) = list(watch._flag_group((7,), _chunks(rows, cuts), state))
            assert list(out.columns) == ["variantId", "seller", "ts", "price", "isPriceBot"]
            assert _rows_of(out) == want, f"trial {trial} batch {batch}"
            assert _decoded(state) == _padded(rings), f"trial {trial} batch {batch}"


def test_flag_group_tick_without_positive_price_sets_no_bits():
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    rows = [("v1", "a", t0, 0), ("v1", "b", t0, None), ("v1", "c", t0, 0), ("v2", "a", t0, 5)]
    state = _GroupState()
    (out,) = list(watch._flag_group((7,), _chunks(rows, []), state))
    assert len(out) == 4 and not out["isPriceBot"].any()
    assert _decoded(state) == {
        ("v1", "a"): [0] * 5, ("v1", "b"): [0] * 5, ("v1", "c"): [0] * 5,
        ("v2", "a"): [0, 0, 0, 0, 1],
    }


def test_flag_group_null_ts_rows_are_dropped():
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    state = _GroupState()
    (out,) = list(watch._flag_group((7,), _chunks([("v1", "a", None, 100)], []), state))
    assert len(out) == 0 and _decoded(state) == {}
    rows = [("v1", "a", None, 100), ("v1", "b", t0, 500), ("v2", "a", None, 90)]
    (out,) = list(watch._flag_group((7,), _chunks(rows, [1]), state))
    assert _rows_of(out) == [("v1", "b", t0, 500, False)]
    assert _decoded(state) == {("v1", "b"): [0, 0, 0, 0, 1]}  # no append for "a"


def test_flag_group_repeated_seller_appends_in_input_order():
    """A seller quoted twice in one tick appends both bits, in arrival
    order, even where the tick is large enough for an unstable sort to
    reorder equal keys, and another variant's rows interleave."""
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    rows = [(f"v{i % 2}", f"f{i}", t0, 2000) for i in range(40)]
    rows[4] = ("v0", "dup", t0, 1000)  # the tick minimum: undercut
    rows[30] = ("v0", "dup", t0, 1500)  # 500 over: no undercut
    rows[36] = ("v0", "dup", t0, 1040)  # inside the margin: undercut
    state = _GroupState()
    (out,) = list(watch._flag_group((7,), _chunks(rows, [17]), state))
    assert _decoded(state)[("v0", "dup")] == [0, 0, 1, 0, 1]
    assert [r[:2] for r in _rows_of(out)] == [r[:2] for r in rows if r[0] == "v0"] + [
        r[:2] for r in rows if r[0] == "v1"
    ]


def test_flag_group_resumes_from_encoded_state():
    """A state row written in the ``STATE_SCHEMA`` layout resumes: each
    ring keeps its last 5 bits, and a seller or variant absent from the
    batch keeps its ring. A row of another layout version fails rather
    than restart the rings."""
    import json

    import pytest

    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    prior = {("v1", "bot"): [1, 1, 0, 1, 0], ("v1", "slow"): [0, 0, 0, 0, 0],
             ("v1", "gone"): [1, 1, 1], (None, None): [1, 1], ("v9", "x"): [1]}
    rings_json = json.dumps([
        ["v1", ["bot", "slow", "gone"], [0b11010, 0, 0b111]],
        [None, [None], [0b11]],
        ["v9", ["x"], [1]],
    ])
    state = _GroupState((watch.STATE_VERSION, rings_json))
    rows = [("v1", "bot", t0, 1000), ("v1", "slow", t0, 1900), ("v1", "new", t0, 1010),
            (None, None, t0, 7)]
    (out,) = list(watch._flag_group((7,), _chunks(rows, []), state))
    assert _rows_of(out) == [
        ("v1", "bot", t0, 1000, True),  # 1,0,1,0,1: three of five
        ("v1", "slow", t0, 1900, False),
        ("v1", "new", t0, 1010, False),
        (None, None, t0, 7, True),  # 1,1,1
    ]
    rings = {k: list(v) for k, v in prior.items()}
    assert _reference_batch(rings, rows) == _rows_of(out)
    assert _decoded(state) == _padded(rings)
    assert state.value == (watch.STATE_VERSION, json.dumps([
        ["v1", ["bot", "slow", "gone", "new"], [0b10101, 0, 0b111, 1]],
        [None, [None], [0b111]],
        ["v9", ["x"], [1]],
    ], separators=(",", ":")))
    with pytest.raises(ValueError, match="layout version 1"):
        list(watch._flag_group((7,), _chunks(rows, []), _GroupState((1, "{}"))))


def test_bot_flag_processor_uses_the_shared_kernel():
    """transformWithStateInPandas' adapter, driven without Spark through
    a stand-in handle: same outputs and same state row as _flag_group on
    the same multi-variant bucket batches."""
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
            assert schema == watch.STATE_SCHEMA
            self.state = ValueState()
            return self.state

    rng = random.Random(7)
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    proc, handle, group_state = watch.BotFlagProcessor(), Handle(), _GroupState()
    proc.init(handle)
    for batch in range(6):
        rows = _random_batch(rng, t0, 4 * batch)
        (got,) = list(proc.handleInputRows((7,), iter(_chunks(rows, [1])), None))
        (want,) = list(watch._flag_group((7,), _chunks(rows, [1]), group_state))
        assert _rows_of(got) == _rows_of(want)
        assert handle.state.value == group_state.value
    proc.close()


def _due_reference(last, stamps, interval_min):
    """Pure-Python T4 gate over one micro-batch: ``stamps`` in any order,
    None for NULL (no tick); a stamp is due when it is at least
    interval_min after the last due one, or there is none yet. Returns
    (due stamps, new last)."""
    step = datetime.timedelta(minutes=interval_min)
    due = []
    for ts in sorted(t for t in stamps if t is not None):
        if last is None or ts - last >= step:
            due.append(ts)
            last = ts
    return due, last


def test_due_group_matches_reference():
    """_due_group against the pure-Python gate over seeded random
    micro-batches: NULL ts, equal ts, unsorted stamps split across chunks
    and state resumed from the previous batch."""
    import random

    import pandas as pd

    rng = random.Random(4)
    t0 = datetime.datetime(2025, 9, 1, 12, 0, 0)
    for trial in range(80):
        interval = rng.choice([0.0, 0.5, 1.0, 2.5, 5.0])
        gate = watch._due_group_factory(interval)
        state, last, clock = _GroupState(), None, 0
        for batch in range(rng.randint(1, 4)):
            stamps = []
            for _ in range(rng.randint(0, 12)):
                clock += rng.choice([0, 0, 1, 29_999_999, 30_000_000, 90_000_000, 150_000_000])
                stamps.append(t0 + datetime.timedelta(microseconds=clock))
            stamps += [rng.choice(stamps) for _ in range(rng.randint(0, 3)) if stamps]
            stamps += [None] * rng.randint(0, 2)
            rng.shuffle(stamps)
            frame = pd.DataFrame({"sku": "k", "ts": pd.to_datetime(stamps)})
            cuts = sorted(rng.randint(0, len(stamps)) for _ in range(2))
            chunks = [frame.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, len(stamps)])]
            want, last = _due_reference(last, stamps, interval)
            (out,) = list(gate(("k",), iter(chunks), state))
            assert list(out.columns) == ["sku", "ts"]
            assert (out["sku"] == "k").all()
            assert [t.to_pydatetime() for t in out["ts"]] == want, f"trial {trial}"
            if last is None:
                assert not state.exists
            else:
                epoch = last.replace(tzinfo=datetime.timezone.utc).timestamp()
                assert state.value == (epoch,), f"trial {trial}"


_STREAM_VARIANTS = 24


def _write_ticks(src, ticks, first):
    """One NDJSON file per tick in the PRICE_WATCH_EVENTS layout; every
    (variant, seller) quotes once per tick, and 24 variants over 64
    buckets share some. Returns the reference rows (variantId, seller,
    epoch_s, price)."""
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
            for v in range(_STREAM_VARIANTS)
            for s in range(5)
        ]
        with open(f"{src}/tick-{tick:03d}.json", "w") as f:
            for variant, seller, _, price in rows:
                f.write(json.dumps({"ts": iso, "masterProductId": "m", "variantId": variant,
                                    "seller": seller, "price": price, "variantColor": "red"}) + "\n")
        rows_out.append(rows)
    return rows_out


def _reference_stream(ticks):
    rings: dict = {}
    out = []
    for rows in ticks:
        out += _reference_batch(rings, rows)
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


def _names(seq):
    it, names = seq.iterator(), []
    while it.hasNext():
        names.append(it.next().name())
    return names


def test_watch_stream_job_feeds_the_kernel_four_columns(spark):
    """Plan pin: the stateful operator is grouped by the state bucket
    alone, and its input is exactly the 4 columns the kernel reads plus
    the bucket, whatever PRICE_WATCH_EVENTS carries besides."""
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
        assert _names(nodes[0].groupingAttributes()) == ["bucket"]
        cols = _names(nodes[0].child().output())
        assert cols == ["variantId", "seller", "ts", "price", "bucket"]
        assert len(PRICE_WATCH_EVENTS.fields) > len(cols) - 1
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_state_buckets_are_pinned(spark):
    """The bucket count and the variantId -> bucket map key every
    checkpoint: changing either re-keys state written before the change."""
    assert watch.STATE_BUCKETS == 64
    events = spark.createDataFrame(
        [("v0000",), ("v0001",), ("v0499",), (None,)], "variantId string"
    ).selectExpr("variantId", "'s' AS seller", "current_timestamp() AS ts", "1L AS price")
    got = [tuple(r) for r in watch._with_bucket(events).select("variantId", "bucket").collect()]
    assert got == [("v0000", 35), ("v0001", 58), ("v0499", 19), (None, 42)]


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


def test_watch_stream_job_refuses_a_per_variant_checkpoint(spark):
    """A checkpoint whose state is keyed by variantId (the layout before
    state buckets: one JSON {seller: [bits]} row per variant) must not
    resume under the bucket layout with empty rings: the restart fails on
    the state key schema."""
    import pytest
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kaspi_etl_spark.schemas import PRICE_WATCH_EVENTS

    def per_variant(key, pdfs, state):
        import json

        import pandas as pd

        state.update((json.dumps({"s0": [1]}),))
        yield pd.DataFrame(columns=watch._OUT_COLS)

    src = tempfile.mkdtemp(prefix="wsjx_src_")
    sink = tempfile.mkdtemp(prefix="wsjx_sink_")
    ckpt = tempfile.mkdtemp(prefix="wsjx_ckpt_")
    try:
        _write_ticks(src, 1, 0)
        old = (
            spark.readStream.schema(PRICE_WATCH_EVENTS).json(src)
            .select(*watch._KERNEL_COLS)
            .groupBy("variantId")
            .applyInPandasWithState(
                per_variant,
                outputStructType=watch._OUT_SCHEMA,
                stateStructType="buffers_json string",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (old.writeStream.format("json").option("path", sink)
             .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
        q.awaitTermination(180)
        assert q.exception() is None
        _write_ticks(src, 1, 1)
        q = watch.watch_stream_job(spark, src, sink, ckpt).trigger(availableNow=True).start()
        try:
            with pytest.raises(Exception, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
                q.awaitTermination(180)
        finally:
            q.stop()
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
