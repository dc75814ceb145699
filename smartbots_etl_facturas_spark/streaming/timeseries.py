"""Streaming ordered folds: the batch integer recurrences of
operators/timeseries.py (EWMA, Holt, CUSUM) carried across
micro-batches with ``applyInPandasWithState``. Each recurrence is
defined once (``_ewma``/``_holt``/``_cusum``) and runs through two
kernels, :func:`_strict_fold_stream` (``*_stateful``) and
:func:`_buffered_fold_stream` (``*_stateful_buffered``). Strict
per-key state is the recurrence state plus the last processed
(ts, tie) position, so state size is O(distinct keys) and never grows
with stream length (no timeout needed; the state IS the operator's
meaning).

Late-data policy (strict kernel): a row with event time strictly
BEFORE the state's last processed time cannot be folded into the
recurrence (the folds are order-sequential) and is dropped — the same
discard semantics a watermark gives an aggregation. Rows inside one
micro-batch are processed in event-time order.

Determinism matches the batch twin exactly — integer units,
truncating division toward zero, stable (ts, tie) ordering — PROVIDED
``tie_col`` is passed when one key can carry same-timestamp rows
(see :func:`ewma_stateful`); tests pin stream == batch.

Why two kernels remain: the buffered kernel at ``horizon_us=0`` does
not reproduce the strict one.

- It always adds a global watermark, while the strict default has
  none, so a key that lags the others keeps rows under the strict
  kernel that the buffered one drops before the fold.
- Its timeout flushes the buffer, while the strict TTL evicts the
  key and restarts the recurrence.
- It drops a cross-batch row at the frontier's timestamp even when
  that row's tie sorts after the last folded row; the strict cut
  admits it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _reject_null_fold_input(rows, key, ts_col, units_col, tie_col):
    """Fail FAST with a named column and key on null event-time, units
    or tie-break values: a null would otherwise surface as an opaque
    pandas/NoneType comparison or astype error deep inside the state
    function (round-8 ADVICE). Folds require non-null inputs — filter
    upstream if the source can carry nulls."""
    for c in [ts_col, units_col] + ([tie_col] if tie_col else []):
        if rows[c].isna().any():
            raise ValueError(
                f"streaming fold input for key {key!r} has a null in "
                f"column {c!r}: ts/tie/units must be non-null (drop or "
                "default them upstream)"
            )


#: fresh-state "processed bound" sentinel: strictly below any real
#: epoch-micros value, INCLUDING pre-1970 negatives — a -1 sentinel
#: silently dropped pre-epoch events on fresh keys, diverging from the
#: batch twins (round-11 streaming review; the buffered family always
#: used this value)
MIN_US = -(1 << 62)


def _validate_ttl(state_ttl_us) -> None:
    if state_ttl_us is not None and state_ttl_us <= 0:
        raise ValueError("state_ttl_us must be positive (or None)")


def _validate_horizon(horizon_us: int, watermark_delay_us) -> int:
    """Check the buffered family's (horizon, global delay) pair and
    return the delay (default: the horizon)."""
    if horizon_us < 0:
        raise ValueError("horizon_us must be >= 0")
    if watermark_delay_us is None:
        return horizon_us
    if watermark_delay_us < horizon_us:
        # a global delay tighter than the per-key horizon would drop
        # rows the frontier still admits — never a sane configuration.
        raise ValueError("watermark_delay_us must be >= horizon_us")
    return watermark_delay_us


def _arm_timeout(state, at_us: int) -> None:
    """Arm the event-time timeout at ``at_us`` (ceil to ms), clamped
    strictly past the current watermark (Spark rejects timeouts at or
    before it).

    The strict family arms TTL eviction at (newest ACCEPTED event +
    TTL). Round-11 (ADVICE): that base is the fold's accepted-event
    bound (``last_us``), NOT the batch max — a batch of only
    late/duplicate rows must not refresh an idle key's TTL, or the
    documented "idle = no accepted events" eviction contract silently
    weakens to "no arrivals". A key that never accepted anything or
    whose accepted events are pre-1970 arms at the watermark clamp
    instead of living forever. The buffered family arms its quiet-key
    flush at (newest buffered event + horizon)."""
    state.setTimeoutTimestamp(
        max(-(-at_us // 1000), state.getCurrentWatermarkMs() + 1)
    )


def _apply_with_state(df, key_col, ts_col, fn, out_schema, state_schema,
                      output_mode, delay_us):
    """Group by key and run ``fn`` with state. ``delay_us`` None: no
    watermark and no timeout; otherwise ``withWatermark(ts, delay)``
    and an event-time timeout (TTL eviction or quiet-key flush)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = GroupStateTimeout.NoTimeout
    if delay_us is not None:
        df = df.withWatermark(ts_col, f"{delay_us} microseconds")
        timeout = GroupStateTimeout.EventTimeTimeout
    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, output_mode, timeout
    )


def _read_rows(pdf_iter, key, ts_col, val_col, tie_col, numeric=True):
    """Decode one group's input into (ts_us, value, tie) tuples in
    arrival order; ``numeric`` casts the values to int64 units."""
    import pandas as pd

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    _reject_null_fold_input(rows, key, ts_col, val_col, tie_col)
    vals = rows[val_col].astype("int64") if numeric else rows[val_col]
    return list(zip(
        (rows[ts_col].astype("int64") // 1000).tolist(),
        vals.tolist(),
        rows[tie_col].tolist() if tie_col else [None] * len(rows),
    ))


def _take_final(state, n, width, read, admit, horizon_us, order):
    """The buffered step shared by the folds and the funnel: unpack
    the state's (``n`` head fields, frontier, buffer of ``width``-field
    rows), admit the new rows from ``read()``, advance the frontier
    and return (head or None, frontier, final rows sorted by
    ``order``, rows still held).

    Rows at or before the finalized frontier arrived later than the
    horizon allows and are dropped; ``admit`` (None: all) picks the
    rows worth buffering, but every arrival advances the frontier to
    (newest arrival - horizon). On the quiet-key timeout there is no
    input and the whole buffer is final."""
    if state.exists:
        st = state.get
        head, fin_us = tuple(st[:n]), int(st[n])
        buf = list(zip(*(st[n + 1 + i] or [] for i in range(width))))
    else:
        head, fin_us, buf = None, MIN_US, []
    if state.hasTimedOut:
        frontier = max([fin_us] + [e[0] for e in buf])
    else:
        new = read()
        buf += [
            e for e in new if e[0] > fin_us and (admit is None or admit(e))
        ]
        frontier = max([fin_us] + [e[0] - horizon_us for e in new])
    ready = sorted((e for e in buf if e[0] <= frontier), key=order)
    return head, frontier, ready, [e for e in buf if e[0] > frontier]


def _hold(state, head, frontier, held, width, horizon_us):
    """Write a buffered key's state back and arm its quiet-key flush:
    fire once the global watermark passes the newest held row +
    horizon."""
    state.update(
        (*head, frontier, *([e[i] for e in held] for i in range(width)))
    )
    if held:
        _arm_timeout(state, max(e[0] for e in held) + horizon_us)


def _trunc_div(n: int, d: int) -> int:
    q = abs(n) // d
    return q if n >= 0 else -q


def _ewma(alpha_denom: int):
    """EWMA, α = 1/alpha_denom: acc += trunc((x - acc) / alpha_denom)."""
    if alpha_denom < 2:
        raise ValueError("alpha_denom must be >= 2")

    def fold_one(st, x):
        acc = x if st is None else st[0] + _trunc_div(x - st[0], alpha_denom)
        return (acc,), (acc,)

    return "acc long", ("ewma_units",), fold_one


def _holt(alpha_denom: int, beta_denom: int):
    """Holt's coupled (level, trend) recurrences; emits level, trend
    and the one-step forecast level + trend."""
    if alpha_denom < 2 or beta_denom < 2:
        raise ValueError("alpha_denom and beta_denom must be >= 2")

    def fold_one(st, x):
        if st is None:
            return (x, 0), (x, 0, x)
        level, trend = st
        pred = level + trend
        new_level = pred + _trunc_div(x - pred, alpha_denom)
        trend = trend + _trunc_div(new_level - pred, beta_denom)
        return (new_level, trend), (new_level, trend, new_level + trend)

    return (
        "lvl long, trd long",
        ("level_units", "trend_units", "forecast_units"),
        fold_one,
    )


def _cusum(target_units: int, slack_units: int):
    """One-sided CUSUM: s = max(0, s + (x - target - slack)), s0 = 0."""
    drift = int(target_units + slack_units)

    def fold_one(st, x):
        s = max(0, (0 if st is None else st[0]) + x - drift)
        return (s,), (s,)

    return "s long", ("cusum_units",), fold_one


class _Fold:
    """What both fold kernels share for one recurrence over one
    stream's columns: the schemas, the stable (ts, tie) order, the
    fold loop and the emit.

    ``rec`` is a recurrence ``(state_schema, out_names, fold_one)``:
    ``fold_one(state_tuple_or_None, x) -> (state_tuple, out_tuple)``
    in pure integer arithmetic, so the fold is bit-identical to the
    batch twin; ``state_schema`` names the state tuple's long fields
    and ``out_names`` the output tuple's."""

    def __init__(self, df, key_col, ts_col, units_col, tie_col, rec):
        self.key_col, self.ts_col, self.units_col = key_col, ts_col, units_col
        self.tie_col = tie_col
        self.fold_schema, self.out_names, self.fold_one = rec
        self.n = self.fold_schema.count(",") + 1
        key_type = df.schema[key_col].dataType.simpleString()
        self.out_schema = (
            f"{key_col} {key_type}, {ts_col} timestamp, {units_col} long, "
            + ", ".join(f"{name} long" for name in self.out_names)
        )
        self.tie_type = (
            df.schema[tie_col].dataType.simpleString() if tie_col else None
        )

    def state_schema(self, tail: str, tie_field: str) -> str:
        """The recurrence's fields, the kernel's ``tail`` fields and,
        with a tie column, ``tie_field`` formatted with its type."""
        tie = f", {tie_field.format(self.tie_type)}" if self.tie_col else ""
        return f"{self.fold_schema}, {tail}{tie}"

    def order(self, e):
        """Sort key of a (ts_us, x, tie) row: (ts, tie), or ts alone —
        used with the stable ``sorted``, so ties keep a fixed order."""
        return (e[0], e[2]) if self.tie_col else e[0]

    def fold_emit(self, fold_st, rows, key):
        """Fold ``rows`` (already in order) into ``fold_st``; returns
        the new state and the emitted frame — one row per folded input
        row, None when nothing folded."""
        import pandas as pd

        out = []
        for t, x, *_ in rows:
            fold_st, vals = self.fold_one(fold_st, x)
            out.append((key[0], pd.Timestamp(t, unit="us"), x, *vals))
        if not out:
            return fold_st, None
        return fold_st, pd.DataFrame(out, columns=[
            self.key_col, self.ts_col, self.units_col, *self.out_names
        ])


def _strict_fold_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    units_col: str,
    tie_col: str | None,
    state_ttl_us: int | None,
    rec: tuple,
):
    """The strict ordered-fold kernel: in-batch rows fold in stable
    (ts, tie) order; rows at or before the state's last processed
    (ts, tie) position are dropped; ``state_ttl_us`` evicts idle keys
    (see :func:`ewma_stateful` for the contract)."""
    _validate_ttl(state_ttl_us)
    io = _Fold(df, key_col, ts_col, units_col, tie_col, rec)
    # the state carries the last processed (ts, tie) so a LATER
    # micro-batch can be cut at exactly the batch twin's sort position
    # — without the tie a cross-batch equal-ts arrival would fold
    # after already-processed equal-ts rows, where the batch sort
    # would have placed it before/among them.
    state_schema = io.state_schema("last_us long", "last_tie {}")

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            # idle past the TTL: evict; a re-arrival restarts fresh
            state.remove()
            return

        rows = sorted(
            _read_rows(pdf_iter, key, ts_col, units_col, tie_col), key=io.order
        )
        if state.exists:
            st = state.get
            fold_st = tuple(int(v) for v in st[:io.n])
            bound_us = int(st[io.n])
            bound_tie = st[io.n + 1] if tie_col else None
        else:
            fold_st, bound_us, bound_tie = None, MIN_US, None

        # cross-batch boundary: any row at-or-before the state's last
        # processed (ts, tie) in batch-sort order would have folded
        # EARLIER in the batch twin — folding it now would diverge, so
        # it is dropped like any other late row. Without a tie column,
        # equal-ts rows arriving in a later micro-batch are dropped too
        # (module-doc contract: pass tie_col when equal-ts rows can
        # span batches).
        rows = [
            e for e in rows
            if e[0] > bound_us
            or (e[0] == bound_us and tie_col and e[2] > bound_tie)
        ]
        last = (rows[-1][0], rows[-1][2]) if rows else (bound_us, bound_tie)
        fold_st, out = io.fold_emit(fold_st, rows, key)
        if fold_st is not None:
            state.update((*fold_st, *last) if tie_col else (*fold_st, last[0]))
            if state_ttl_us is not None:
                _arm_timeout(state, last[0] + state_ttl_us)
        if out is not None:
            yield out

    return _apply_with_state(
        df, key_col, ts_col, fn, io.out_schema, state_schema, "append",
        state_ttl_us,
    )


def ewma_stateful(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    units_col: str = "x_units",
    alpha_denom: int = 4,
    tie_col: str | None = None,
    state_ttl_us: int | None = None,
):
    """Per-key streaming EWMA (α = 1/alpha_denom) over a streaming
    DataFrame with a watermark on ``ts_col``. Emits one row per
    accepted input row: (key, ts, x_units, ewma_units).

    Determinism contract: within a micro-batch, rows fold in
    (``ts_col``, ``tie_col``) order under a STABLE sort. Pass
    ``tie_col`` whenever same-timestamp rows can occur for one key —
    without it, equal-ts rows fold in arrival order, which is
    partition-order dependent (the batch twin requires a tie column
    for exactly this reason).

    ``state_ttl_us`` (optional, round-10): per-key state is one small
    tuple — bounded by design at O(distinct keys) — but a years-lived
    stream over an unbounded key universe still accretes. When set, a
    key idle (no accepted events) past the TTL is EVICTED via an
    event-time timeout; a later arrival restarts the recurrence from
    scratch (the accumulator is genuinely gone — eviction is a
    semantic reset, not a pause). Setting a TTL adds
    ``withWatermark(ts, ttl)``, so rows more than the TTL behind the
    global max event time are dropped before the fold (the lateness
    bound any TTL implies). Default None keeps the exact r9 behavior:
    no watermark, no eviction."""
    return _strict_fold_stream(
        df, key_col, ts_col, units_col, tie_col, state_ttl_us,
        _ewma(alpha_denom),
    )


def holt_stateful(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    units_col: str = "x_units",
    alpha_denom: int = 4,
    beta_denom: int = 8,
    tie_col: str | None = None,
    state_ttl_us: int | None = None,
):
    """Streaming twin of :func:`...operators.timeseries.holt_linear`:
    the coupled (level, trend) integer recurrences carried across
    micro-batches — per-key state is (level, trend, last position),
    O(distinct keys) forever. Ordering/late-data contract is
    ewma_stateful's: in-batch rows fold in stable (ts, tie) order,
    rows at-or-before the state's last processed position are
    dropped. Emits one row per accepted input row:
    (key, ts, x_units, level_units, trend_units, forecast_units);
    tests pin stream == batch bit-for-bit. ``state_ttl_us`` evicts
    idle keys (see :func:`ewma_stateful` — same opt-in TTL contract:
    eviction is a semantic reset and adds a watermark).
    """
    return _strict_fold_stream(
        df, key_col, ts_col, units_col, tie_col, state_ttl_us,
        _holt(alpha_denom, beta_denom),
    )


def cusum_stateful(
    df: DataFrame,
    target_units: int,
    slack_units: int = 0,
    key_col: str = "user_id",
    ts_col: str = "ts",
    units_col: str = "x_units",
    tie_col: str | None = None,
    state_ttl_us: int | None = None,
):
    """Streaming twin of :func:`...operators.timeseries.cusum`: the
    one-sided CUSUM drift statistic carried across micro-batches.

    Unlike the batch twin — which exploits the drawdown identity to
    run as two windows — the stream keeps the DIRECT recurrence
    ``s = max(0, s + (x - target - slack))`` as per-key state: ONE
    int64 per key (plus the (ts, tie) boundary), so state size is
    O(distinct keys) forever. The two formulations are equal by the
    drawdown identity; tests pin stream == batch row for row.

    Ordering/late-data contract is ewma_stateful's: in-batch rows fold
    in stable (ts, tie) order, rows at-or-before the state's last
    processed position are dropped. ``state_ttl_us`` evicts idle
    keys (see :func:`ewma_stateful` — same opt-in TTL contract).
    """
    return _strict_fold_stream(
        df, key_col, ts_col, units_col, tie_col, state_ttl_us,
        _cusum(target_units, slack_units),
    )


def _buffered_fold_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    units_col: str,
    tie_col: str | None,
    horizon_us: int,
    watermark_delay_us: int | None,
    rec: tuple,
):
    """The watermark-buffered ordered-fold kernel (EWMA / Holt / CUSUM
    buffered variants).

    Contract (the buffered-funnel discipline,
    streaming/funnel.py:funnel_stateful_buffered): a row is FINAL —
    and only then folded into the recurrence and emitted, in
    (ts, tie) order — once the key's max observed event time is at
    least ``horizon_us`` past it; until then it waits in state. Rows
    at or before the already-finalized frontier are dropped (late
    beyond the horizon). Per-key state = the recurrence's fold fields
    (None until the first fold) + frontier + the within-horizon
    buffer — bounded by one horizon's event volume per key, the
    watermarked-aggregation bound. Stream-final output equals the
    batch twin over the union for any within-horizon shuffle,
    PROVIDED each row also clears the stream's GLOBAL watermark
    (delay = ``watermark_delay_us``, default ``horizon_us``): a row
    more than that delay behind the global max event time is dropped
    by Spark before it reaches the fold, even when its own key's
    frontier would still admit it. A key that lags other keys by more
    than the delay therefore sees rows its batch twin would fold —
    raise ``watermark_delay_us`` above ``horizon_us`` to give slow
    keys cross-key slack without widening the per-key reorder window
    (the only cost is a later quiet-key flush).

    QUIET-KEY FLUSH (round-9): the per-key frontier only advances on
    that key's own arrivals, so under ``NoTimeout`` a key that goes
    silent would hold its within-horizon tail forever and never emit
    it. The fold therefore runs under an EVENT-TIME timeout: the
    stream carries a ``withWatermark(ts, watermark_delay)`` and each
    update arms a timeout at (newest buffered event + horizon); when
    the GLOBAL watermark passes it, the state function fires with no
    input and folds/emits the whole buffer in order. Safe because
    any row that could still arrive is at or above the watermark,
    i.e. newer than everything flushed.
    """
    delay_us = _validate_horizon(horizon_us, watermark_delay_us)
    io = _Fold(df, key_col, ts_col, units_col, tie_col, rec)
    width = 3 if tie_col else 2  # buffered (ts, x[, tie]) rows
    state_schema = io.state_schema(
        "fin_us long, buf_ts array<long>, buf_x array<long>",
        "buf_tie array<{}>",
    )

    def fn(key, pdf_iter, state):
        # no tie column: equal-ts rows fold in buffer (arrival) order
        # under a stable sort — same caveat as the strict kernel's
        head, frontier, ready, held = _take_final(
            state, io.n, width,
            lambda: _read_rows(pdf_iter, key, ts_col, units_col, tie_col),
            None, horizon_us, io.order,
        )
        # the fold fields are None until the first row folds
        fold_st = head if head and head[0] is not None else None
        fold_st, out = io.fold_emit(fold_st, ready, key)
        _hold(state, fold_st or (None,) * io.n, frontier, held, width,
              horizon_us)
        if out is not None:
            yield out

    return _apply_with_state(
        df, key_col, ts_col, fn, io.out_schema, state_schema, "append",
        delay_us,
    )


def ewma_stateful_buffered(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    units_col: str = "x_units",
    alpha_denom: int = 4,
    tie_col: str | None = None,
    horizon_us: int = 600_000_000,
    watermark_delay_us: int | None = None,
):
    """Watermark-buffered streaming EWMA — :func:`ewma_stateful`'s
    recurrence under the buffered ordered-fold contract (see
    :func:`_buffered_fold_stream`): out-of-order delivery within
    ``horizon_us`` reproduces the batch EWMA exactly (pinned in
    tests/test_streaming_buffered.py); rows beyond the horizon drop
    with watermark semantics."""
    return _buffered_fold_stream(
        df, key_col, ts_col, units_col, tie_col, horizon_us,
        watermark_delay_us, _ewma(alpha_denom),
    )


def holt_stateful_buffered(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    units_col: str = "x_units",
    alpha_denom: int = 4,
    beta_denom: int = 8,
    tie_col: str | None = None,
    horizon_us: int = 600_000_000,
    watermark_delay_us: int | None = None,
):
    """Watermark-buffered streaming Holt — :func:`holt_stateful`'s
    coupled (level, trend) recurrences under the buffered
    ordered-fold contract: within-horizon shuffle reproduces the
    batch ``holt_linear`` exactly."""
    return _buffered_fold_stream(
        df, key_col, ts_col, units_col, tie_col, horizon_us,
        watermark_delay_us, _holt(alpha_denom, beta_denom),
    )


def cusum_stateful_buffered(
    df: DataFrame,
    target_units: int,
    slack_units: int = 0,
    key_col: str = "user_id",
    ts_col: str = "ts",
    units_col: str = "x_units",
    tie_col: str | None = None,
    horizon_us: int = 600_000_000,
    watermark_delay_us: int | None = None,
):
    """Watermark-buffered streaming CUSUM — :func:`cusum_stateful`'s
    drift recurrence ``s = max(0, s + (x - target - slack))`` under
    the buffered ordered-fold contract: within-horizon shuffle
    reproduces the batch ``cusum`` exactly."""
    return _buffered_fold_stream(
        df, key_col, ts_col, units_col, tie_col, horizon_us,
        watermark_delay_us, _cusum(target_units, slack_units),
    )
