"""Watermark-buffered streaming variants (round 8): events shuffled
out of order WITHIN the horizon still produce exactly the batch
result — the buffered funnel / EWMA reorder them in state and fold at
the per-key watermark — while events beyond the horizon are dropped
like any late row."""

import datetime

import pytest
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.operators.events import funnel_stages
from smartbots_etl_facturas_spark.operators.timeseries import ewma_smooth
from smartbots_etl_facturas_spark.streaming.funnel import (
    funnel_stateful_buffered,
)
from smartbots_etl_facturas_spark.streaming.timeseries import (
    ewma_stateful_buffered,
)

STEPS = ["view", "cart", "buy"]
BASE = datetime.datetime(2026, 1, 1)
MIN_US = 60_000_000


def _ts(minutes):
    return BASE + datetime.timedelta(minutes=minutes)


def _drain(spark, batches, schema, tmp_path, build_stream, mode="update"):
    """Write each batch as its own parquet dir, feed them one file per
    trigger in batch order, collect per-batch foreachBatch outputs."""
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i:02d}")
    collected = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        build_stream(stream)
        .writeStream.outputMode(mode)
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return collected


def _funnel_fixture():
    """40 users, funnel shapes as in test_streaming_funnel, but each
    user's three events are DELIVERED scrambled across batches
    (event 1 before event 0) with a 100-minute displacement, inside a
    150-minute horizon. A final non-step 'ping' advances every user's
    watermark past all data so the buffer drains."""
    users = []
    for u in range(40):
        if u % 4 == 0:
            kinds = ["view", "cart", "buy"]
        elif u % 4 == 1:
            kinds = ["view", "cart", "cart"]
        elif u % 4 == 2:
            kinds = ["cart", "view", "buy"]
        else:
            kinds = ["view"]
        users.append(
            [(u, _ts(u + 100 * i), k) for i, k in enumerate(kinds)]
        )
    # delivery order per user: event index 1, then 0, then the rest —
    # every user's first two events arrive time-swapped across batches
    b0 = [ev[1] for ev in users if len(ev) > 1]
    b1 = [ev[0] for ev in users]
    b2 = [e for ev in users for e in ev[2:]]
    b3 = [(u, _ts(5000), "ping") for u in range(40)]
    return users, [b0, b1, b2, b3]


def test_buffered_funnel_matches_batch_on_shuffled_delivery(
    spark, tmp_path
):
    users, batches = _funnel_fixture()
    schema = "user_id long, ts timestamp, event_type string"
    horizon_us = 150 * MIN_US
    latest = {}
    rows = _drain(
        spark, batches, schema, tmp_path,
        lambda s: funnel_stateful_buffered(s, STEPS, horizon_us=horizon_us),
    )
    for r in rows:
        latest[r.user_id] = r

    ev = spark.createDataFrame([e for u in users for e in u], schema)
    want = {r.stage: r.n_users for r in funnel_stages(ev, STEPS).collect()}
    got = {
        i: sum(1 for r in latest.values() if r.stage >= i)
        for i in range(1, len(STEPS) + 1)
    }
    assert got == {i: want.get(i, 0) for i in range(1, len(STEPS) + 1)}
    assert got[1] > got[2] > got[3] > 0  # all fixture shapes occurred
    # the trailing ping drained every buffer
    assert all(r.n_buffered == 0 for r in latest.values())


def test_buffered_funnel_drops_beyond_horizon(spark, tmp_path):
    """An event older than the finalized frontier when it arrives is
    dropped — watermark semantics, not silent reordering."""
    schema = "user_id long, ts timestamp, event_type string"
    batches = [
        [(1, _ts(0), "view"), (1, _ts(500), "ping")],  # frontier -> 490
        [(1, _ts(10), "cart")],                        # 10 < 490: late
        [(1, _ts(495), "cart"), (1, _ts(2000), "ping")],
    ]
    latest = {}
    for r in _drain(
        spark, batches, schema, tmp_path,
        lambda s: funnel_stateful_buffered(s, STEPS, horizon_us=10 * MIN_US),
    ):
        latest[r.user_id] = r
    # the late cart never folded; the in-horizon cart at 495 did
    assert latest[1].stage == 2
    assert latest[1].bound_ts == _ts(495)


def test_buffered_ewma_matches_batch_on_shuffled_delivery(spark, tmp_path):
    """Per-key recurrence over shuffled-within-horizon delivery equals
    ewma_smooth over the same rows in (ts, tie) order. A far-future
    sentinel row per key drains the buffer; sentinels themselves stay
    buffered (nothing ever passes their watermark) so emitted rows =
    exactly the data rows."""
    schema = "user_id long, ts timestamp, event_id long, x_units long"
    data = {
        1: [(0, 100), (1, 200), (2, 60), (3, 1000), (4, 40)],
        2: [(0, 50), (1, 90), (2, 70)],
    }
    rows = {
        u: [(u, _ts(m), m, x) for m, x in evs] for u, evs in data.items()
    }
    # deliver each key's rows scrambled: indices 1,0 then 3,2 then rest
    def pick(idx):
        return [rows[u][i] for u in rows for i in idx if i < len(rows[u])]

    batches = [
        pick([1]), pick([0, 3]), pick([2]), pick([4]),
        [(u, _ts(9000), 9000, 0) for u in rows],  # sentinels: drain
    ]
    got_rows = _drain(
        spark, batches, schema, tmp_path,
        lambda s: ewma_stateful_buffered(
            s, tie_col="event_id", horizon_us=5 * MIN_US
        ),
        mode="append",
    )
    got = {(r.user_id, r.ts): r.ewma_units for r in got_rows}

    ev = spark.createDataFrame([r for u in rows for r in rows[u]], schema)
    want = {
        (r.user_id, r.ts): r.ewma_units
        for r in ewma_smooth(ev, tie_col="event_id").collect()
    }
    assert got == want  # sentinels never emitted, all data rows exact
    assert len(got) == sum(len(v) for v in data.values())


@pytest.mark.parametrize("fold", ["holt", "ewma", "cusum"])
def test_holt_stream_matches_batch(spark, tmp_path, fold):
    """Streaming Holt (applyInPandasWithState) == batch holt_linear:
    the (level, trend) pair carries across micro-batches and every
    emission is an exact integer match. Parametrized over the three
    strict folds (Holt, EWMA, CUSUM) against their batch twins.

    The last micro-batch crosses a batch boundary at equal ts: it
    carries two rows at user 1's last folded timestamp. The one with
    the larger event_id sorts after the folded row and is admitted;
    the one with the smaller event_id sorts before it and is dropped,
    so the batch twin runs over every row except that one."""
    from smartbots_etl_facturas_spark.operators import timeseries as bt
    from smartbots_etl_facturas_spark.streaming import timeseries as st

    stream_fold, batch_fold, cols = {
        "holt": (
            lambda s: st.holt_stateful(s, tie_col="event_id"),
            lambda ev: bt.holt_linear(ev, tie_col="event_id"),
            ("level_units", "trend_units", "forecast_units"),
        ),
        "ewma": (
            lambda s: st.ewma_stateful(s, tie_col="event_id"),
            lambda ev: bt.ewma_smooth(ev, tie_col="event_id"),
            ("ewma_units",),
        ),
        "cusum": (
            lambda s: st.cusum_stateful(
                s, target_units=300, tie_col="event_id"
            ),
            lambda ev: bt.cusum(
                ev, "x_units", target_units=300, tie_col="event_id"
            ),
            ("cusum_units",),
        ),
    }[fold]

    schema = "user_id long, ts timestamp, event_id long, x_units long"
    data = {
        1: [(0, 100), (1, 200), (2, 60), (3, 1000), (4, 40)],
        2: [(0, 500), (1, 580), (2, 660), (3, 740)],  # linear ramp
    }
    rows = {
        u: [(u, _ts(m), m, x) for m, x in evs] for u, evs in data.items()
    }
    admitted = (1, _ts(4), 9, 700)   # same ts as rows[1][4], larger tie
    dropped = (1, _ts(4), 2, 333)    # same ts, smaller tie: late
    batches = [
        [rows[1][0], rows[1][1], rows[2][0]],
        [rows[1][2], rows[2][1], rows[2][2]],
        [rows[1][3], rows[1][4], rows[2][3]],
        [dropped, admitted],
    ]
    got_rows = _drain(
        spark, batches, schema, tmp_path, stream_fold, mode="append",
    )
    got = {
        (r.user_id, r.ts, r.x_units): tuple(r[c] for c in cols)
        for r in got_rows
    }
    ev = spark.createDataFrame(
        [r for u in rows for r in rows[u]] + [admitted], schema
    )
    want = {
        (r.user_id, r.ts, r.x_units): tuple(r[c] for c in cols)
        for r in batch_fold(ev).collect()
    }
    assert got == want and len(got) == 10
    assert (1, _ts(4), 333) not in got


def test_bottom_k_sampler_stream_matches_batch(spark, tmp_path):
    """Streaming exact-k sample (bottom-k by md5 draw) == the batch
    bottom-k over the union, for ANY batch split — bottom-k is a
    monoid — and restart redelivery merges exactly once."""
    from smartbots_etl_facturas_spark.streaming.sampling import (
        BottomKSampler,
    )

    src = str(tmp_path / "src")
    rows = [(i, f"lang{i % 3}") for i in range(500)]
    for lo, hi in [(0, 200), (200, 350), (350, 500)]:
        spark.createDataFrame(
            rows[lo:hi], "doc_id long, lang string"
        ).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "state")
    mon = BottomKSampler("doc_id", ["lang"], k=25, state_dir=state)
    q = (
        spark.readStream.schema("doc_id long, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(mon)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = [
        (r["__draw"], r["__id"], r["lang"])
        for r in spark.read.parquet(src)
        .select(
            F.md5(F.concat(F.lit("sample-v1:"),
                           F.col("doc_id").cast("string"))).alias("__draw"),
            F.col("doc_id").cast("string").alias("__id"),
            "lang",
        )
        .orderBy("__draw", "__id")
        .limit(25)
        .collect()
    ]
    assert mon.sample() == want and len(want) == 25

    # restart from the snapshot: redelivered batch is a no-op; a new
    # batch can only improve draws already in the sample
    mon2 = BottomKSampler("doc_id", ["lang"], k=25, state_dir=state)
    assert mon2.sample() == want
    mon2(spark.read.parquet(src).limit(100), max(mon.seen))
    assert mon2.sample() == want
    import hashlib

    mon2(spark.createDataFrame([(777, "xx")], "doc_id long, lang string"),
         max(mon.seen) + 1)
    d777 = hashlib.md5(b"sample-v1:777").hexdigest()
    want2 = sorted(want + [(d777, "777", "xx")])[:25]
    assert mon2.sample() == [tuple(r) for r in want2]


def test_buffered_holt_and_cusum_match_batch(spark, tmp_path):
    """The generic buffered ordered-fold: Holt and CUSUM variants
    reproduce their batch twins exactly on shuffled-within-horizon
    delivery (same discipline as the EWMA test)."""
    from smartbots_etl_facturas_spark.operators.timeseries import (
        cusum,
        holt_linear,
    )
    from smartbots_etl_facturas_spark.streaming.timeseries import (
        cusum_stateful_buffered,
        holt_stateful_buffered,
    )

    schema = "user_id long, ts timestamp, event_id long, x_units long"
    data = {
        1: [(0, 100), (1, 200), (2, 60), (3, 1000), (4, 40)],
        2: [(0, 500), (1, 580), (2, 660), (3, 740)],
    }
    rows = {
        u: [(u, _ts(m), m, x) for m, x in evs] for u, evs in data.items()
    }

    def pick(idx):
        return [rows[u][i] for u in rows for i in idx if i < len(rows[u])]

    batches = [
        pick([1]), pick([0, 3]), pick([2]), pick([4]),
        [(u, _ts(9000), 9000, 0) for u in rows],  # drain sentinels
    ]
    ev = spark.createDataFrame([r for u in rows for r in rows[u]], schema)

    got_h = {
        (r.user_id, r.ts): (r.level_units, r.trend_units)
        for r in _drain(
            spark, batches, schema, tmp_path / "holt",
            lambda s: holt_stateful_buffered(
                s, tie_col="event_id", horizon_us=5 * MIN_US
            ),
            mode="append",
        )
    }
    want_h = {
        (r.user_id, r.ts): (r.level_units, r.trend_units)
        for r in holt_linear(ev, tie_col="event_id").collect()
    }
    assert got_h == want_h and len(got_h) == 9

    got_c = {
        (r.user_id, r.ts): r.cusum_units
        for r in _drain(
            spark, batches, schema, tmp_path / "cusum",
            lambda s: cusum_stateful_buffered(
                s, target_units=300, tie_col="event_id",
                horizon_us=5 * MIN_US,
            ),
            mode="append",
        )
    }
    want_c = {
        (r.user_id, r.ts): r.cusum_units
        for r in cusum(
            ev, "x_units", target_units=300, ts_col="ts",
            tie_col="event_id",
        ).collect()
    }
    assert got_c == want_c and len(got_c) == 9


def test_bottom_k_sampler_seen_ids_stay_bounded(spark, tmp_path):
    """Round-9 ADVICE: the seen-batch-id set compacts behind a low
    watermark (ids are monotone per checkpoint), so a long-lived
    stream cannot grow the snapshot; non-JSON payload values
    (datetime.date) persist via default=str instead of raising."""
    import json
    import os

    from smartbots_etl_facturas_spark.streaming.sampling import (
        BottomKSampler,
    )

    state = str(tmp_path / "state")
    mon = BottomKSampler("doc_id", ["d"], k=3, state_dir=state)
    df = spark.sql(
        "SELECT 1 AS doc_id, DATE'2024-01-02' AS d"
    )
    from smartbots_etl_facturas_spark.streaming._batchlog import (
        SEEN_CAP,
        SEEN_KEEP,
    )

    cap = SEEN_CAP
    for bid in range(cap + 10):
        mon(df, bid)  # date payload: must not raise on persist
    assert len(mon.seen) <= cap
    assert mon.low >= cap - SEEN_KEEP
    snap = json.load(open(os.path.join(state, "state.json")))
    assert len(snap["seen"]) <= cap and snap["low"] == mon.low
    # a compacted-away (old) id is still treated as merged
    before = mon.sample()
    mon(spark.sql("SELECT 0 AS doc_id, DATE'2024-01-01' AS d"), 0)
    assert mon.sample() == before
    # restart keeps the watermark; the date payload round-trips as its
    # str() form (the documented default=str fidelity caveat)
    mon2 = BottomKSampler("doc_id", ["d"], k=3, state_dir=state)
    assert mon2.low == mon.low
    assert mon2.sample() == [
        tuple(str(v) if i == 2 else v for i, v in enumerate(row))
        for row in before
    ]


def test_fold_input_null_guard_names_the_column():
    """Round-9 ADVICE: a null ts/tie/units value fails with a clear
    ValueError naming the column, not an opaque NoneType comparison
    inside the state function."""
    import pandas as pd
    import pytest

    from smartbots_etl_facturas_spark.streaming.timeseries import (
        _reject_null_fold_input,
    )

    rows = pd.DataFrame({"ts": [1, 2], "x": [10, None], "tie": [1, 2]})
    with pytest.raises(ValueError, match="'x'"):
        _reject_null_fold_input(rows, ("u1",), "ts", "x", "tie")
    rows2 = pd.DataFrame({"ts": [1, 2], "x": [10, 11], "tie": [1, None]})
    with pytest.raises(ValueError, match="'tie'"):
        _reject_null_fold_input(rows2, ("u1",), "ts", "x", "tie")
    clean = pd.DataFrame({"ts": [1], "x": [1], "tie": [1]})
    _reject_null_fold_input(clean, ("u1",), "ts", "x", "tie")


def test_quiet_key_tail_flushes_on_event_time_timeout(spark, tmp_path):
    """Round-9: a key that goes SILENT no longer holds its
    within-horizon tail forever — the event-time timeout fires once
    OTHER keys' events push the global watermark past (its newest
    buffered event + horizon), and the buffer folds and emits without
    any further arrival for that key."""
    schema = "user_id string, ts timestamp, x_units long"
    horizon = 5 * MIN_US
    batches = [
        # u2's ONLY events, plus a co-timed u1 event
        [("u2", _ts(0), 100), ("u2", _ts(1), 200), ("u1", _ts(0), 10)],
        # u1-only traffic far in the future: advances the watermark
        [("u1", _ts(30), 20)],
        # one more trigger so the timeout (armed against the batch-2
        # watermark) gets a chance to fire
        [("u1", _ts(31), 30)],
    ]
    got = _drain(
        spark, batches, schema, tmp_path,
        lambda s: ewma_stateful_buffered(s, horizon_us=horizon),
        mode="append",
    )
    u2 = sorted(
        (r.ts, r.x_units, r.ewma_units) for r in got if r.user_id == "u2"
    )
    # batch twin on u2's two events: ewma = 100, then 100+(200-100)/4
    assert u2 == [
        (_ts(0), 100, 100),
        (_ts(1), 200, 125),
    ]
    # and u2 never had a post-batch-1 arrival: the flush did this.
    # u1's own tail (30', 31') stays buffered — nothing ever advances
    # the watermark past it, so exactly its 0' row has emitted.
    u1 = [(r.ts, r.x_units) for r in got if r.user_id == "u1"]
    assert u1 == [(_ts(0), 10)]


def test_quiet_user_funnel_flushes_on_event_time_timeout(spark, tmp_path):
    """The funnel twin of the quiet-key flush: a user whose step
    events sit inside the horizon reaches their final stage once
    other users' traffic pushes the watermark past them — no trailing
    event for the quiet user needed."""
    schema = "user_id long, ts timestamp, event_type string"
    batches = [
        [(2, _ts(0), "view"), (2, _ts(1), "cart"), (1, _ts(0), "view")],
        [(1, _ts(30), "ping")],
        [(1, _ts(31), "ping")],
    ]
    latest = {}
    for r in _drain(
        spark, batches, schema, tmp_path,
        lambda s: funnel_stateful_buffered(s, STEPS, horizon_us=5 * MIN_US),
    ):
        latest[r.user_id] = r
    assert latest[2].stage == 2 and latest[2].n_buffered == 0
    assert latest[2].bound_ts == _ts(1)


def test_bottom_k_sampler_rejects_non_monotone_new_batch_id(spark, tmp_path):
    """Seen-id compaction is only exactly-once when batch ids are
    contiguous-monotone (the foreachBatch contract); a NEW id below
    max(seen) means the low-watermark may have swallowed an unseen
    batch, so the sampler raises instead of silently merging."""
    import pytest
    from smartbots_etl_facturas_spark.streaming.sampling import (
        BottomKSampler,
    )

    mon = BottomKSampler("doc_id", ["lang"], k=5,
                         state_dir=str(tmp_path / "st"))
    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    mon(df, 0)
    mon(df, 5)
    mon(df, 5)  # exact redelivery of the last id: fine, no-op
    with pytest.raises(ValueError, match="non-monotone"):
        mon(df, 3)  # new id below max(seen): contract violation


def test_buffered_fold_watermark_delay_validation(spark):
    """watermark_delay_us below horizon_us would let the GLOBAL
    watermark drop rows the per-key frontier still admits — rejected;
    a larger delay is accepted (plan builds)."""
    import pytest
    from smartbots_etl_facturas_spark.streaming.timeseries import (
        ewma_stateful_buffered,
    )
    from smartbots_etl_facturas_spark.streaming.funnel import (
        funnel_stateful_buffered,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS user_id", "timestamp AS ts",
                    "value AS x_units", "'a' AS event_type")
    )
    with pytest.raises(ValueError, match="watermark_delay_us"):
        ewma_stateful_buffered(stream, horizon_us=10_000_000,
                               watermark_delay_us=5_000_000)
    with pytest.raises(ValueError, match="watermark_delay_us"):
        funnel_stateful_buffered(stream, ["a"], horizon_us=10_000_000,
                                 watermark_delay_us=5_000_000)
    # decoupled delay > horizon: both plans build
    ewma_stateful_buffered(stream, horizon_us=10_000_000,
                           watermark_delay_us=60_000_000)
    funnel_stateful_buffered(stream, ["a"], horizon_us=10_000_000,
                             watermark_delay_us=60_000_000)


def test_sessionize_stateful_out_of_order_never_regresses_span(spark, tmp_path):
    """Round-11 streaming review: an admitted cross-batch out-of-order
    event merged with `last = t`, regressing session_end below
    session_start. The span must only ever widen (last=max, start=min)."""
    import datetime

    from smartbots_etl_facturas_spark.streaming.sessions import (
        sessionize_stateful,
    )

    base = datetime.datetime(2026, 1, 1)

    def ts(m):
        return base + datetime.timedelta(minutes=m)

    schema = "user_id long, ts timestamp, value double"
    # watermark delay inside sessionize_stateful comes from the source
    # watermark; feed batches so the out-of-order row is ADMITTED
    batches = [
        [(1, ts(10), 1.0), (1, ts(20), 1.0)],
        [(1, ts(15), 1.0)],                     # late but admitted
        [(1, ts(500), 1.0)],                    # closes the session
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(f"{src}/b{i:02d}")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/b*")
              .withWatermark("ts", "2 hours"))
    collected = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    q = (sessionize_stateful(stream, gap_seconds=600)
         .writeStream.outputMode("append").foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    closed = [r for r in collected if r.n_events == 3]
    assert closed, f"no 3-event session emitted: {collected}"
    r = closed[0]
    assert r.session_start <= r.session_end
    assert (r.session_start.minute, r.session_end.minute) == (10, 20)
