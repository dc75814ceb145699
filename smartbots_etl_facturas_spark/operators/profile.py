"""Dataset profiling and data-quality discovery operators.

The reference validates invoices against a FIXED rule table
(src/domain/validators.py); production data work also needs the
DISCOVERY direction — profile an unfamiliar table and find where its
implicit contracts break. Two operators:

``column_profile``: per-column null rate / distinct count / min /
max in ONE scan. The naive per-column loop (`for c in cols:
df.select(...)`) is N full scans; here every statistic is an
aggregate expression in a single ``agg()`` so Spark computes all of
them in one pass with map-side partial aggregation, then the 1-row
result is unpivoted driver-side (column-count-scale, not data-scale)
into a tidy (col_name, stat...) frame.

``fd_violations``: functional-dependency check lhs -> rhs. Groups by
the lhs, counts distinct rhs values, and reports every lhs value
that maps to more than one rhs (with the min/max conflicting rhs as
evidence). One hash shuffle on the lhs; distinct-counting is
per-group, never global.

Scale: both are single-aggregation plans — the profile collects ONE
row (bounded by column count), the FD check's output is bounded by
the number of VIOLATING keys. No windows, no crossJoin, no driver
loop over data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "column_profile",
    "fd_violations",
    "corr_matrix",
    "categorical_entropy",
]


def column_profile(
    df: DataFrame,
    cols: list[str],
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Tidy per-column profile (col_name, n_null, n_distinct,
    min_str, max_str) of ``cols`` computed in one scan.

    min/max are shipped as strings so heterogeneous column types fit
    one tidy frame; numeric columns keep a portable plain format
    (DOUBLE renders via the engine; callers wanting exact numerics
    profile those columns alone).

    ``approx=True`` swaps exact ``count_distinct`` for Spark's native
    HLL++ (``approx_count_distinct``, relative standard deviation
    ``rsd``) — the 100 TB tier: the sketch is fixed-size per column,
    fully map-side mergeable, and keeps the plan at one genuine pass.
    Same contract as the repo's own HLL operator family
    (operators/sketches.py) — the built-in is used here because it
    composes into the one-shot ``agg()`` without a per-column register
    explode. Relative-error contract pinned in
    tests/test_profile_drift.py. The EXACT tier runs each column's
    distinct count as its own concurrent single-distinct job instead
    of letting Spark Expand-multiply one agg (see inline comment).
    """
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
        if approx:
            aggs.append(F.approx_count_distinct(F.col(c), rsd).alias(f"__nd_{c}"))
    if approx:
        # sketches compose into the one-shot agg: fixed-size HLL state
        # per column per task, one genuine pass.
        row = df.agg(*aggs).collect()[0]  # bounded: ONE row, 4*|cols| cells
        nd = {c: row[f"__nd_{c}"] for c in cols}
    else:
        # EXACT tier (round-13 optimization): |cols| count_distinct in
        # one agg() plans as an Expand — every input row copied once
        # per profiled column with the partial aggregate keyed on ALL
        # distinct columns at once (measured 3.1 s for a 5-column
        # orders profile at sf0.1). Instead each column's exact
        # distinct count runs as its OWN single-distinct aggregation
        # (no Expand: partial dedup -> exchange of deduped values ->
        # count), submitted concurrently from a small driver thread
        # pool so the per-job latency overlaps (optimization guide
        # §2.6); the null/min/max pass stays one scan. On columnar
        # storage the per-column scans read the same total bytes as
        # the one wide scan the Expand plan did, and each dedup
        # shuffle carries one column's near-distinct values — the
        # same volume the Expand plan shuffled, without the |cols|x
        # row multiplication through the partial aggregate. Results
        # identical: same aggregates, computed per column.
        # Pool threads get the caller's job group and local properties
        # through inheritable_thread_target, so their jobs stay
        # attributed to the calling query.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        def _nd(c: str) -> int:
            return df.agg(F.count_distinct(F.col(c))).collect()[0][0]

        inherit = inheritable_thread_target(df.sparkSession)
        with ThreadPoolExecutor(max_workers=min(4, len(cols) + 1)) as pool:
            base_fut = pool.submit(inherit(lambda: df.agg(*aggs).collect()[0]))
            nd_futs = {c: pool.submit(inherit(_nd), c) for c in cols}
            row = base_fut.result()
            nd = {c: f.result() for c, f in nd_futs.items()}
    tidy = [
        (c, row[f"__nn_{c}"], nd[c], row[f"__mn_{c}"], row[f"__mx_{c}"])
        for c in cols
    ]
    return df.sparkSession.createDataFrame(
        tidy,
        "col_name string, n_null long, n_distinct long, "
        "min_str string, max_str string",
    )


def fd_violations(df: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Rows of (lhs, n_rhs_values, n_rows, rhs_min, rhs_max) for every
    lhs value that violates the functional dependency lhs -> rhs
    (i.e. maps to >1 distinct rhs). Empty result == FD holds."""
    return (
        df.groupBy(F.col(lhs).alias("lhs"))
        .agg(
            F.count_distinct(F.col(rhs)).alias("n_rhs_values"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min(F.col(rhs)).cast("string").alias("rhs_min"),
            F.max(F.col(rhs)).cast("string").alias("rhs_max"),
        )
        .filter(F.col("n_rhs_values") > 1)
    )


#: |factor| bound for the LONG product tier: floor(sqrt(2^63 - 1)).
#: Two guarded factors can never wrap a signed 64-bit product.
LONG_PRODUCT_BOUND = 3_037_000_499


def _guarded_long(v: Column, where: str) -> Column:
    """``v`` as LONG, or a raised USER_RAISED_EXCEPTION at execution
    when |v| exceeds LONG_PRODUCT_BOUND — the magnitude check that
    makes the long-multiply fast tier safe: within the bound a
    long*long product cannot wrap, so the tier is exactly as lossless
    as the decimal tier, just without per-row BigDecimal arithmetic."""
    msg = (
        f"{where}: |value| exceeds {LONG_PRODUCT_BOUND} — the LONG "
        "product tier would overflow. Use products='decimal' (the "
        "default safe tier) for magnitudes beyond cents scale."
    )
    return F.when(F.abs(v) <= LONG_PRODUCT_BOUND, v).otherwise(
        F.raise_error(F.lit(msg)).cast("long")
    )


def corr_matrix(
    df: DataFrame, cols: dict[str, Column], products: str = "decimal"
) -> DataFrame:
    """Pairwise Pearson correlation of every column pair in ONE scan:
    (col_x, col_y, n, corr) for each unordered pair, i < j in the
    insertion order of ``cols``.

    ``cols`` maps output name -> an EXACT INTEGER Column (callers
    scale decimals/doubles to cents with round(x*100) — Pearson is
    invariant under per-variable positive affine maps, so the scaled
    correlation IS the raw correlation). Integer inputs make every
    sufficient statistic (n, Σx, Σx², Σxy per pair) a lossless sum:
    per-row products multiply DECIMAL(19,0) factors (a raw long*long
    would silently wrap past ±9.2e18 under non-ANSI Spark; the
    decimal(38,0) product stays exact and fails visibly beyond) and
    are summed as DECIMAL(38,0) — mergeable, reduction-order independent,
    and bit-equal to the oracle's 128-bit integer sums — so the one
    final double expression per pair is portable. The cast-to-double
    happens per SUM (not per intermediate product) to mirror the SQL
    oracle exactly.

    ``products`` selects the per-row product tier — both EXACT, same
    answers, different cost/safety envelope:

    - ``"decimal"`` (default): DECIMAL(19,0) factors, decimal(38,0)
      product — safe at ANY long magnitude (overflow NULLs/raises
      instead of wrapping), per-row BigDecimal cost (~40% on a
      scan-bound profile).
    - ``"long"``: raw long multiply guarded by a per-row
      |v| <= floor(sqrt(2^63-1)) check that raises visibly — for
      callers whose inputs are cents-scale by construction, recovers
      the BigDecimal cost without re-opening the silent-wrap hole.

    Plan shape: ONE agg() over the scan — map-side partial
    aggregation reduces every partition to a single sufficient-stats
    row, the shuffle moves |cols|²-scale cells, and the pair unpivot
    is F.inline over the 1-row result (no second scan, no driver
    collect). Rows with a NULL in ANY profiled column are dropped
    first so all pairs share one n (complete-case correlation).
    """
    if products not in ("decimal", "long"):
        raise ValueError("products must be 'decimal' or 'long'")
    names = list(cols)
    base = df.select(
        *[c.cast("long").alias(f"__v_{n}") for n, c in cols.items()]
    ).na.drop()
    aggs = [F.count(F.lit(1)).alias("__n")]

    if products == "decimal":
        # DECIMAL(19,0) factors (result: decimal(38,0)) rather than
        # raw longs: a long*long beyond ±9.2e18 silently wraps under
        # non-ANSI Spark, whereas the decimal product stays exact up
        # to 38 digits and NULLs (or raises under ANSI) past that —
        # wrong answers become visible failures for inputs outside
        # the cents scale this profile documents.
        def _prod(a: str, b: str) -> Column:
            return (
                F.col(f"__v_{a}").cast("decimal(19,0)")
                * F.col(f"__v_{b}").cast("decimal(19,0)")
            )
    else:
        # guarded long multiply (see _guarded_long): exact within the
        # bound, raises visibly beyond it; the product is widened to
        # decimal(38,0) only at the SUM, so the per-row hot path stays
        # in long codegen.
        def _prod(a: str, b: str) -> Column:
            return (
                _guarded_long(F.col(f"__v_{a}"), "corr_matrix")
                * _guarded_long(F.col(f"__v_{b}"), "corr_matrix")
            ).cast("decimal(38,0)")

    for n in names:
        v = F.col(f"__v_{n}")
        aggs.append(F.sum(v.cast("decimal(38,0)")).alias(f"__s_{n}"))
        aggs.append(F.sum(_prod(n, n)).alias(f"__ss_{n}"))
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum(_prod(a, b)).alias(f"__sp_{a}_{b}"))
    stats = base.agg(*aggs)

    def _corr(a: str, b: str) -> Column:
        n = F.col("__n").cast("double")
        sa = F.col(f"__s_{a}").cast("double")
        sb = F.col(f"__s_{b}").cast("double")
        ssa = F.col(f"__ss_{a}").cast("double")
        ssb = F.col(f"__ss_{b}").cast("double")
        sp = F.col(f"__sp_{a}_{b}").cast("double")
        num = n * sp - sa * sb
        den = F.sqrt((n * ssa - sa * sa) * (n * ssb - sb * sb))
        return F.round(num / den, 9)

    return stats.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_x"),
                        F.lit(b).alias("col_y"),
                        F.col("__n").alias("n"),
                        _corr(a, b).alias("corr"),
                    )
                    for a, b in pairs
                ]
            )
        )
    )


def categorical_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-category Shannon-entropy contributions for each profiled
    column: (col_name, value, cnt, h_contrib) where h_contrib =
    -(c/N)·ln(c/N) and N is the column's non-null total. The caller
    sums a column's rows for its entropy (the frame is
    category-scale, bounded by Σ distinct values, independent of row
    count) — shipping contributions keeps every double a SINGLE
    expression of exact longs, so the oracle reproduces it
    bit-for-bit with no cross-partition float-summation order.

    Plan: one generator projection unpivots the columns (map-side,
    no shuffle), ONE hash aggregation counts (col_name, value), and
    the per-column totals re-aggregate the category-scale counts
    frame and come back as a broadcast equi-join. NULLs are dropped
    (entropy is over observed values).
    """
    kv = df.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        )
    ).filter(F.col("value").isNotNull())
    counts = kv.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.groupBy("col_name").agg(F.sum("cnt").alias("__n"))
    p = F.col("cnt").cast("double") / F.col("__n").cast("double")
    return (
        counts.join(F.broadcast(totals), "col_name")
        .select(
            "col_name",
            "value",
            "cnt",
            F.round(-p * F.log(p), 9).alias("h_contrib"),
        )
    )
