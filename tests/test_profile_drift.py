"""Profiling / drift / bounded-top-k operators: exact semantics on
seeded frames, plus the scale properties the docstrings promise
(two-pass top-k matches the naive window on any input; PSI bins are
complete; chi-square cells reproduce the closed-form expectation)."""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.operators.drift import (
    chi_square_cells,
    psi_bins,
)
from smartbots_etl_facturas_spark.operators.profile import (
    categorical_entropy,
    column_profile,
    corr_matrix,
    fd_violations,
)
from smartbots_etl_facturas_spark.operators.ranking import topk_per_group
from smartbots_etl_facturas_spark.operators.timeseries import acf_lags


# --- topk_per_group --------------------------------------------------------


def test_topk_matches_naive_window(spark):
    """Two-pass bounded top-k == the single-window formulation, on a
    frame spread over many input partitions so the local-prune pass is
    actually exercised (the k=1-per-slice survivors must still contain
    the global winners)."""
    rows = [(i % 7, i, (i * 48271) % 1000) for i in range(500)]
    df = spark.createDataFrame(rows, "g long, id long, v long").repartition(13)
    order = [F.desc("v"), F.col("id")]
    got = {
        (r.g, r.id, r.v, r.rk)
        for r in topk_per_group(df, ["g"], order, 4, rank_col="rk").collect()
    }
    w = Window.partitionBy("g").orderBy(*order)
    want = {
        (r.g, r.id, r.v, r.rk)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 4)
        .collect()
    }
    assert got == want and len(want) == 7 * 4


def test_topk_group_smaller_than_k(spark):
    df = spark.createDataFrame([(1, 1, 10), (1, 2, 20)], "g long, id long, v long")
    out = topk_per_group(df, ["g"], [F.desc("v"), F.col("id")], 5).collect()
    assert len(out) == 2


def test_topk_no_rank_col_drops_helper_columns(spark):
    df = spark.createDataFrame([(1, 1, 10)], "g long, id long, v long")
    out = topk_per_group(df, ["g"], [F.desc("v"), F.col("id")], 1)
    assert out.columns == ["g", "id", "v"]


# --- psi_bins --------------------------------------------------------------


def test_psi_bins_complete_axis_and_pseudocount(spark):
    """Every bin 0..nbins-1 appears even when empty; empty bins take
    the 0.5 pseudo-count so psi_contrib stays finite."""
    rows = [(float(v), True) for v in (5, 15, 15)] + [(25.0, False)]
    df = spark.createDataFrame(rows, "x double, a boolean")
    out = {
        r.bin: r
        for r in psi_bins(df, "x", F.col("a"), 0.0, 40.0, 4).collect()
    }
    assert sorted(out) == [0, 1, 2, 3]
    assert (out[0].n_a, out[0].n_b) == (1, 0)
    assert (out[1].n_a, out[1].n_b) == (2, 0)
    assert (out[2].n_a, out[2].n_b) == (0, 1)
    assert (out[3].n_a, out[3].n_b) == (0, 0)
    for r in out.values():
        assert r.psi_contrib is not None and math.isfinite(r.psi_contrib)
    # hand-checked contribution for bin 0: p=1/3, q=0.5/1
    p, q = 1 / 3, 0.5
    assert out[0].psi_contrib == pytest.approx((p - q) * math.log(p / q), abs=1e-9)


def test_psi_bins_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(-100.0, True), (1e9, False)], "x double, a boolean"
    )
    out = {r.bin: (r.n_a, r.n_b) for r in
           psi_bins(df, "x", F.col("a"), 0.0, 40.0, 4).collect()}
    assert out[0] == (1, 0) and out[3] == (0, 1)


# --- chi_square_cells ------------------------------------------------------


def test_chi_square_cells_closed_form(spark):
    """2x2 contingency with known margins: expected = row*col/grand,
    contribution = (obs-exp)^2/exp."""
    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 20 + [("b", "y")] * 40
    )
    df = spark.createDataFrame(rows, "u string, v string")
    out = {(r.x, r.y): r for r in chi_square_cells(df, "u", "v").collect()}
    assert out[("a", "x")].observed == 30
    exp_ax = 40 * 50 / 100
    assert out[("a", "x")].expected == pytest.approx(exp_ax, abs=1e-9)
    assert out[("a", "x")].chi2_contrib == pytest.approx(
        (30 - exp_ax) ** 2 / exp_ax, abs=1e-9
    )
    # chi2 total for a 2x2 with these margins: sum of 4 contributions
    chi2 = sum(r.chi2_contrib for r in out.values())
    assert chi2 == pytest.approx(100 * (30 * 40 - 10 * 20) ** 2 / (40 * 60 * 50 * 50), rel=1e-9)


# --- column_profile / fd_violations ---------------------------------------


def test_column_profile_stats(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "c")], "k long, s string"
    )
    out = {r.col_name: r for r in column_profile(df, ["k", "s"]).collect()}
    assert out["k"].n_null == 0 and out["k"].n_distinct == 2
    assert (out["k"].min_str, out["k"].max_str) == ("1", "2")
    assert out["s"].n_null == 1 and out["s"].n_distinct == 2
    assert (out["s"].min_str, out["s"].max_str) == ("a", "c")


def test_column_profile_exact_more_columns_than_pool_workers(spark):
    """Round-13: the exact tier submits one single-distinct job per
    column from a bounded driver thread pool (max 4 workers) — with 6
    columns the pool must queue and still return every column's exact
    stats (ordering and values independent of scheduling)."""
    df = spark.createDataFrame(
        [(1, 1, "a", 1.5, None, 7), (2, 1, "b", 1.5, "x", 7),
         (2, None, "b", 2.5, "y", 7)],
        "c1 long, c2 long, c3 string, c4 double, c5 string, c6 long",
    )
    cols = ["c1", "c2", "c3", "c4", "c5", "c6"]
    out = {r.col_name: r for r in column_profile(df, cols).collect()}
    assert [r for r in out] == cols  # tidy frame keeps caller order
    assert [out[c].n_distinct for c in cols] == [2, 1, 2, 2, 2, 1]
    assert [out[c].n_null for c in cols] == [0, 1, 0, 0, 1, 0]
    assert out["c4"].min_str == "1.5" and out["c4"].max_str == "2.5"


def test_column_profile_pool_jobs_keep_caller_job_group(spark):
    """The exact tier runs its jobs on driver pool threads; each of
    those jobs must carry the caller's job group, so none of them is
    left without a group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = "test-column-profile-pool"
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "c1 long, c2 string, c3 double"
    )
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "column_profile pool threads")
    try:
        column_profile(df, ["c1", "c2", "c3"]).collect()
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    # one base job plus one distinct-count job per column, at least
    assert len(tracker.getJobIdsForGroup(group)) >= 4
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_column_profile_approx_relative_error(spark):
    """The 100 TB tier: approx=True swaps exact count_distinct for
    HLL++ (approx_count_distinct). Estimates must land within 5x the
    configured rsd of the exact counts across a wide cardinality
    range; the other statistics stay exact."""
    from pyspark.sql import functions as F

    df = spark.range(60_000).select(
        F.col("id").alias("hi"),              # 60k distinct
        (F.col("id") % 700).alias("mid"),     # 700 distinct
        (F.col("id") % 7).alias("lo"),        # 7 distinct
    )
    rsd = 0.05
    exact = {r.col_name: r for r in
             column_profile(df, ["hi", "mid", "lo"]).collect()}
    est = {r.col_name: r for r in
           column_profile(df, ["hi", "mid", "lo"], approx=True,
                          rsd=rsd).collect()}
    for c in ("hi", "mid", "lo"):
        rel = abs(est[c].n_distinct - exact[c].n_distinct) / max(
            exact[c].n_distinct, 1
        )
        assert rel <= 5 * rsd, (c, rel)
        # non-distinct statistics are unaffected by the tier
        assert est[c].n_null == exact[c].n_null
        assert (est[c].min_str, est[c].max_str) == (
            exact[c].min_str, exact[c].max_str
        )


def test_fd_violations_reports_only_violators(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "x"), (2, "y"), (3, "z")],
        "k long, v string",
    )
    out = {r.lhs: r for r in fd_violations(df, "k", "v").collect()}
    assert list(out) == [2]
    assert out[2].n_rhs_values == 2 and out[2].n_rows == 2
    assert (out[2].rhs_min, out[2].rhs_max) == ("x", "y")


def test_fd_holds_empty_result(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    assert fd_violations(df, "k", "v").count() == 0


# --- acf_lags --------------------------------------------------------------


def test_acf_perfect_period_two(spark):
    """Alternating series 0,4,0,4,...: lag-1 correlation is exactly
    -1, lag-2 exactly +1 (paired-series Pearson)."""
    rows = [(t, 0 if t % 2 == 0 else 4) for t in range(20)]
    df = spark.createDataFrame(rows, "t long, x long")
    out = {r.lag_k: r for r in acf_lags(df, "t", "x", [1, 2]).collect()}
    assert out[1].n_pairs == 19 and out[2].n_pairs == 18
    assert out[1].acf == pytest.approx(-1.0, abs=1e-9)
    assert out[2].acf == pytest.approx(1.0, abs=1e-9)


def test_acf_gap_tolerant_pairing(spark):
    """Missing timestamps just drop pairs (equi-join semantics), they
    don't shift the series like a positional lag would."""
    rows = [(0, 1), (1, 2), (3, 4), (4, 5)]  # t=2 missing
    df = spark.createDataFrame(rows, "t long, x long")
    out = {r.lag_k: r.n_pairs for r in acf_lags(df, "t", "x", [1]).collect()}
    assert out[1] == 2  # (0,1) and (3,4)


# --- corr_matrix -----------------------------------------------------------


def test_corr_matrix_known_values(spark):
    """Exact-line y=2x gives corr 1; y=-x gives -1; independent-ish
    noise lands strictly between. n counts complete rows only."""
    import random

    rng = random.Random(7)
    rows = [
        (i, 2 * i, -i, rng.randrange(0, 1000))
        for i in range(200)
    ] + [(None, 1, 1, 1)]
    df = spark.createDataFrame(rows, "a long, b long, c long, d long")
    out = {
        (r.col_x, r.col_y): r
        for r in corr_matrix(
            df, {n: F.col(n) for n in ("a", "b", "c", "d")}
        ).collect()
    }
    assert len(out) == 6
    assert all(r.n == 200 for r in out.values())
    assert out[("a", "b")].corr == pytest.approx(1.0, abs=1e-9)
    assert out[("a", "c")].corr == pytest.approx(-1.0, abs=1e-9)
    assert abs(out[("a", "d")].corr) < 0.3


def test_corr_matrix_matches_python(spark):
    """Spot-check the sufficient-stats formula against a direct
    Python computation on a seeded frame."""
    import math
    import random

    rng = random.Random(11)
    xs = [rng.randrange(0, 500) for _ in range(300)]
    ys = [3 * x + rng.randrange(0, 200) for x in xs]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    got = corr_matrix(df, {"x": F.col("x"), "y": F.col("y")}).collect()[0]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    want = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert got.corr == pytest.approx(want, abs=1e-9)


# --- categorical_entropy / mi_cells ---------------------------------------


def test_categorical_entropy_uniform_and_skewed(spark):
    """Uniform 4-way column sums to ln(4); a constant column has
    entropy 0; NULLs are excluded from the column's total."""
    rows = [(str(i % 4), "k", None if i % 2 else "z") for i in range(80)]
    df = spark.createDataFrame(rows, "u string, v string, w string")
    out = categorical_entropy(df, ["u", "v", "w"])
    by_col = {}
    for r in out.collect():
        by_col.setdefault(r.col_name, []).append(r)
    assert sum(r.h_contrib for r in by_col["u"]) == pytest.approx(
        math.log(4), abs=1e-8
    )
    assert sum(r.h_contrib for r in by_col["v"]) == pytest.approx(0.0, abs=1e-9)
    # w: nulls dropped -> one observed value 'z', entropy 0, cnt 40
    assert [(r.value, r.cnt) for r in by_col["w"]] == [("z", 40)]


def test_mi_cells_independence_and_determinism(spark):
    """Independent columns give I(X;Y)=0 (every cell contribution 0);
    a deterministic copy gives I = H(X)."""
    from smartbots_etl_facturas_spark.operators.drift import mi_cells

    indep = spark.createDataFrame(
        [(str(i % 2), str((i // 2) % 3)) for i in range(60)],
        "x string, y string",
    )
    total = sum(r.mi_contrib for r in mi_cells(indep, "x", "y").collect())
    assert total == pytest.approx(0.0, abs=1e-9)

    dup = spark.createDataFrame(
        [(str(i % 3), str(i % 3)) for i in range(90)], "x string, y string"
    )
    total = sum(r.mi_contrib for r in mi_cells(dup, "x", "y").collect())
    assert total == pytest.approx(math.log(3), abs=1e-8)


# --- key_skew_profile ------------------------------------------------------


def test_key_skew_profile_shares_and_ties(spark):
    from smartbots_etl_facturas_spark.operators.skew import key_skew_profile

    rows = [("hot",)] * 50 + [("warm",)] * 30 + [("a",)] * 10 + [("b",)] * 10
    df = spark.createDataFrame(rows, "k string").repartition(7)
    out = key_skew_profile(df, "k", 3).collect()
    assert [(r.key, r.cnt) for r in out] == [("hot", 50), ("warm", 30), ("a", 10)]
    assert out[0].share == pytest.approx(0.5, abs=1e-9)


# --- seasonal_index --------------------------------------------------------


def test_seasonal_index_flat_and_peaked(spark):
    from smartbots_etl_facturas_spark.operators.timeseries import (
        seasonal_index,
    )

    flat = spark.createDataFrame(
        [(i % 7,) for i in range(700)], "dow long"
    )
    out = seasonal_index(flat, F.col("dow"), 7).collect()
    assert len(out) == 7
    for r in out:
        assert r.seas_index == pytest.approx(1.0, abs=1e-9)

    peaked = spark.createDataFrame(
        [(0,)] * 60 + [(1,)] * 20 + [(2,)] * 20, "dow long"
    )
    got = {r.period: r.seas_index for r in
           seasonal_index(peaked, F.col("dow"), 7).collect()}
    assert got[0] == pytest.approx(60 * 7 / 100, abs=1e-9)
    assert got[1] == pytest.approx(20 * 7 / 100, abs=1e-9)


# --- benford literal sync ---------------------------------------------------


def test_benford_literals_match_log10():
    """The 12-place Benford probabilities embedded in BOTH engines'
    expressions must stay in sync with log10(1+1/d) (they are
    literals precisely because the two libms' last-ulp log10 may
    disagree; this guards against a typo)."""
    import __spark_entry__ as entry

    for d in range(1, 10):
        want = math.log10(1 + 1 / d)
        assert abs(float(entry._BENFORD[d]) - want) < 5e-13
    assert abs(sum(float(v) for v in entry._BENFORD.values()) - 1.0) < 1e-10
