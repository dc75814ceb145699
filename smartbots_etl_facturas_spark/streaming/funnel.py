"""Streaming ordered funnel: the batch greedy-advance semantics of
operators/events.py:funnel_stages carried across micro-batches with
``applyInPandasWithState`` — per-user state is one (stage, bound)
pair (stages completed so far, timestamp of the last completion), so
state is O(distinct users) at any stream length.

Semantics match the batch operator exactly: a user completes step i
at the earliest event of type ``steps[i]`` STRICTLY AFTER their
step-(i-1) completion — greedy advance over time-ordered events is
precisely that chain, and the (stage, bound) pair is the only state
the greedy walk needs. Rows inside a micro-batch fold in event-time
order (stable sort).

Ordered-delivery contract (same family as the streaming EWMA): per
user, events must arrive in non-decreasing event-time order ACROSS
micro-batches — an event older than the state's bound cannot be
folded into an order-sequential walk and is dropped like any late
row past a watermark. Under that contract stream-final stages equal
the batch funnel over the union (pinned in
tests/test_streaming_funnel.py).

``funnel_stateful_buffered`` relaxes that contract to the watermark
discipline of the buffered folds: events may arrive out of order
within ``horizon_us``; an event folds only once no reordering within
the horizon can precede it, so stream-final stages still equal the
batch funnel over the union for ANY within-horizon shuffle (folding
rule in its docstring; pinned in tests/test_streaming_buffered.py).
Per-user state is (stage, bound, frontier) plus the buffer, whose
size is bounded by the user's event volume inside one horizon — the
same bound a watermarked window aggregation carries.

Each accepted batch emits the group's CURRENT (user, stage,
bound_ts) — consumers keep the latest row per user (update-mode
shape); per-stage counts are then "users with stage >= i".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from smartbots_etl_facturas_spark.streaming.timeseries import (
    MIN_US,
    _apply_with_state,
    _arm_timeout,
    _hold,
    _read_rows,
    _take_final,
    _validate_horizon,
    _validate_ttl,
)


def _funnel_plan(df, steps, user_col, extra_out=""):
    """(step list, output schema) of a streaming funnel."""
    steps = list(steps)
    if not steps:
        raise ValueError("funnel needs at least one step")
    key_type = df.schema[user_col].dataType.simpleString()
    out_schema = f"{user_col} {key_type}, stage long, bound_ts timestamp"
    return steps, out_schema + extra_out


def _greedy_walk(steps, stage, bound_us, events):
    """Advance (stage, bound) over time-ordered (ts_us, type, ...) rows:
    step i completes at the first ``steps[i]`` event strictly after
    the step-(i-1) completion."""
    for t, ty, *_ in events:
        if stage < len(steps) and ty == steps[stage] and t > bound_us:
            stage += 1
            bound_us = t
    return stage, bound_us


def _stage_row(user_col, key, stage, bound_us, **extra):
    import pandas as pd

    bound_ts = pd.Timestamp(bound_us * 1000) if bound_us > MIN_US else pd.NaT
    return pd.DataFrame({
        user_col: [key[0]],
        "stage": [int(stage)],
        "bound_ts": [bound_ts],
        **{name: [v] for name, v in extra.items()},
    })


def funnel_stateful(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    state_ttl_us: int | None = None,
):
    """Per-user streaming funnel over a streaming DataFrame. Emits one
    row per (user, micro-batch touching that user): the user's current
    (stage, bound_ts) after folding the batch's events.

    ``state_ttl_us`` (optional, round-10): evicts users idle past the
    TTL via an event-time timeout, bounding state on an unbounded user
    universe — eviction is a semantic reset (a returning user restarts
    at stage 0) and adds ``withWatermark(ts, ttl)`` with its standard
    late-drop. Default None keeps the exact r9 behavior (no watermark,
    state lives forever; see streaming/timeseries.py:ewma_stateful for
    the shared TTL contract)."""
    steps, out_schema = _funnel_plan(df, steps, user_col)
    _validate_ttl(state_ttl_us)

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            # idle past the TTL: evict; a returning user starts over
            state.remove()
            return

        rows = _read_rows(pdf_iter, key, ts_col, type_col, None, False)
        stage, bound_us = _greedy_walk(
            steps, *(state.get if state.exists else (0, MIN_US)),
            sorted(rows, key=lambda e: e[0]),
        )
        state.update((int(stage), int(bound_us)))
        if state_ttl_us is not None:
            _arm_timeout(state, bound_us + state_ttl_us)
        yield _stage_row(user_col, key, stage, bound_us)

    return _apply_with_state(
        df.filter(df[type_col].isin(steps)), user_col, ts_col, fn,
        out_schema, "stage long, bound_us long", "update", state_ttl_us,
    )


def funnel_stateful_buffered(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    horizon_us: int = 600_000_000,
    watermark_delay_us: int | None = None,
):
    """Watermark-buffered per-user streaming funnel: tolerates events
    arriving out of order within ``horizon_us`` (microseconds) of the
    user's max observed event time — PROVIDED each event also clears
    the stream's GLOBAL watermark (delay ``watermark_delay_us``,
    default ``horizon_us``): an event more than the delay behind the
    global max event time is dropped by Spark before it reaches the
    fold, even when its own user lags. Raise ``watermark_delay_us``
    above ``horizon_us`` to give slow users cross-user slack without
    widening the per-user reorder window (only cost: a later
    quiet-user flush).

    Folding rule: an event is final — and only then folded into the
    greedy walk, in (event-time, type) order, matching the batch
    twin's ``sort_array`` struct order — once the user's max observed
    event time is at least ``horizon_us`` past it. Events at or
    before the already-finalized frontier are dropped (late beyond
    the horizon). ALL of the user's events advance the frontier
    (non-step types fold as no-ops), so a stream with trailing
    activity drains its buffer naturally; a user who goes SILENT is
    flushed by an event-time timeout once the global watermark passes
    their newest buffered event + horizon (the round-9 quiet-key
    flush — see timeseries._buffered_fold_stream for the argument),
    so no tail waits forever.

    Emits one row per (user, micro-batch touching that user) and one
    on the timeout flush: (user, stage, bound_ts, n_buffered) —
    ``n_buffered`` is the user's not-yet-final step events still held
    in state.
    """
    steps, out_schema = _funnel_plan(
        df, steps, user_col, ", n_buffered long"
    )
    delay_us = _validate_horizon(horizon_us, watermark_delay_us)
    state_schema = (
        "stage long, bound_us long, fin_us long, "
        "buf_ts array<long>, buf_ty array<string>"
    )
    step_set = set(steps)

    def fn(key, pdf_iter, state):
        # only step-typed rows consume buffer space (others just
        # advance the frontier); (ts, type) order == the batch twin's
        # sort_array struct order
        head, frontier, ready, held = _take_final(
            state, 2, 2,
            lambda: _read_rows(pdf_iter, key, ts_col, type_col, None, False),
            lambda e: e[1] in step_set, horizon_us, lambda e: e[:2],
        )
        stage, bound_us = _greedy_walk(
            steps, *(head or (0, MIN_US)), ready
        )
        _hold(state, (int(stage), int(bound_us)), frontier, held, 2,
              horizon_us)
        yield _stage_row(
            user_col, key, stage, bound_us, n_buffered=len(held)
        )

    return _apply_with_state(
        df, user_col, ts_col, fn, out_schema, state_schema, "update",
        delay_us,
    )
