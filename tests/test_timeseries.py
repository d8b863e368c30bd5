"""Golden-value unit tests for the point-in-time / session operators
(operators/timeseries.py, X34-X39): tiny hand-computed frames pinning the
exact semantics the entry-contract mirror can't isolate — tolerance and
tiebreak edges of the as-of join, session-gap boundary strictness, LOCF
weights, interpolation edge rows and truncating division, RANGE- vs
ROWS-frame divergence on gappy series, and counter-reset detection."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from c3s_sm_spark.operators.timeseries import (
    asof_join,
    counter_increase,
    interp_linear_micro,
    range_window_sums,
    session_stats,
    sessionize,
    time_weighted_sums,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_matches_tolerance_and_tiebreak(spark):
    left = spark.createDataFrame(
        [
            ("a", 1, _ts("2024-01-01 10:00:00")),  # exact-ts right match
            ("a", 2, _ts("2024-01-01 10:30:00")),  # in-tolerance match
            ("a", 3, _ts("2024-01-01 13:00:01")),  # out of tolerance (3601s)
            ("b", 4, _ts("2024-01-01 09:00:00")),  # no right row at all
            ("c", 5, _ts("2024-01-01 12:00:00")),  # tiebreak: two right rows, same ts
        ],
        "user_id string, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01 10:00:00"), 100, 111),
            ("a", _ts("2024-01-01 09:00:00"), 101, 222),
            ("c", _ts("2024-01-01 11:00:00"), 102, 333),
            ("c", _ts("2024-01-01 11:00:00"), 103, 444),  # greater tiebreak wins
        ],
        "user_id string, ts timestamp, event_id long, vm long",
    )
    out = asof_join(
        left, right, ["user_id"], value_cols=["vm"],
        tolerance_s=3600, tiebreak="event_id",
    )
    got = {r["event_id"]: (r["asof_vm"], r["asof_age_s"]) for r in out.collect()}
    assert got[1] == (111, 0)          # right row AT the probe ts matches (<=)
    assert got[2] == (111, 1800)       # most recent prior, not the older one
    assert got[3] == (None, None)      # 3601s > tolerance -> nulled
    assert got[4] == (None, None)      # no match
    assert got[5] == (444, 3600)       # equal right ts: max tiebreak wins


def test_asof_join_no_tolerance_keeps_all_ages(spark):
    left = spark.createDataFrame(
        [("a", 1, _ts("2024-01-02 10:00:00"))],
        "user_id string, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", _ts("2024-01-01 10:00:00"), 7)],
        "user_id string, ts timestamp, vm long",
    )
    out = asof_join(left, right, ["user_id"], value_cols=["vm"]).collect()
    assert out[0]["asof_vm"] == 7 and out[0]["asof_age_s"] == 86400


def test_sessionize_gap_boundary_is_strict(spark):
    # gap_s=1800: a delta of EXACTLY 1800s continues the session; 1801 starts
    # a new one (the operator tests `> gap_s`).
    rows = [
        ("u", _ts("2024-01-01 00:00:00")),
        ("u", _ts("2024-01-01 00:30:00")),  # +1800s -> same session
        ("u", _ts("2024-01-01 01:00:01")),  # +1801s -> new session
        ("v", _ts("2024-01-01 05:00:00")),  # other key: its own session 1
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (r["user_id"], r["ts"]): r["session_seq"]
        for r in sessionize(df, "user_id", "ts", gap_s=1800).collect()
    }
    assert got[("u", rows[0][1])] == 1
    assert got[("u", rows[1][1])] == 1
    assert got[("u", rows[2][1])] == 2
    assert got[("v", rows[3][1])] == 1


def test_session_stats_counts_and_duration(spark):
    df = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01 00:00:00")),
            ("u", _ts("2024-01-01 00:10:00")),
            ("u", _ts("2024-01-01 02:00:00")),  # new session (gap 6600s)
        ],
        "user_id string, ts timestamp",
    )
    got = {
        r["session_seq"]: (r["n_events"], r["duration_s"])
        for r in session_stats(df, "user_id", "ts", gap_s=1800).collect()
    }
    assert got == {1: (2, 600), 2: (1, 0)}


def test_time_weighted_sums_locf_weights(spark):
    # bucket "b": points at t=0 (v=10) and t=100 (v=50). LOCF: v=10 carries
    # 100s, the final point carries 0s -> tw_sum=1000, dt_total=100.
    df = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01 00:00:00"), 10),
            ("u", _ts("2024-01-01 00:01:40"), 50),
            ("w", _ts("2024-01-01 00:00:00"), 99),  # single-point bucket
        ],
        "user_id string, ts timestamp, vm long",
    )
    out = time_weighted_sums(
        df, ["user_id"], "ts", F.col("vm"), F.lit("b")
    ).collect()
    got = {r["user_id"]: r for r in out}
    assert got["u"]["tw_sum"] == 1000 and got["u"]["dt_total"] == 100
    assert got["u"]["v_sum_micro"] == 60 and got["u"]["n"] == 2
    # single observation: zero weight, falls back to the plain sum fields
    assert got["w"]["tw_sum"] == 0 and got["w"]["dt_total"] == 0
    assert got["w"]["v_sum_micro"] == 99 and got["w"]["n"] == 1


def test_interp_linear_micro_interior_and_edges(spark):
    # days 1..5: v = [100, null, null, 40, null]. Interior nulls interpolate
    # on the 86400s day axis: day2 = 100 + trunc((40-100)*1/3) = 100-20 = 80,
    # day3 = 100 + trunc(-60*2/3) = 60. Trailing null stays null.
    rows = [
        ("u", _ts("2024-01-01 00:00:00"), 100),
        ("u", _ts("2024-01-02 00:00:00"), None),
        ("u", _ts("2024-01-03 00:00:00"), None),
        ("u", _ts("2024-01-04 00:00:00"), 40),
        ("u", _ts("2024-01-05 00:00:00"), None),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, vm long")
    out = interp_linear_micro(df, ["user_id"], "ts", "vm")
    got = {r["ts"].day: r["vm_filled"] for r in out.collect()}
    assert got == {1: 100, 2: 80, 3: 60, 4: 40, 5: None}


def test_interp_linear_micro_truncates_toward_zero(spark):
    # negative numerator: (v1-v0)*(t-t0) = (-7)*(86400) over 2*86400 ->
    # -7/2 -> trunc = -3 (not floor -4); DuckDB `//` agrees (verified in
    # the oracle): filled = 10 + (-3) = 7.
    rows = [
        ("u", _ts("2024-01-01 00:00:00"), 10),
        ("u", _ts("2024-01-02 00:00:00"), None),
        ("u", _ts("2024-01-03 00:00:00"), 3),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, vm long")
    out = interp_linear_micro(df, ["user_id"], "ts", "vm")
    got = {r["ts"].day: r["vm_filled"] for r in out.collect()}
    assert got[2] == 7


def test_range_window_shrinks_on_gaps_vs_rows_frame(spark):
    # days 1, 2, 20: a 3-row ROWS frame would sum all three at day 20; the
    # 7-day RANGE frame must only see day 20 itself.
    rows = [
        ("u", dt.date(2024, 1, 1), 1),
        ("u", dt.date(2024, 1, 2), 2),
        ("u", dt.date(2024, 1, 20), 4),
    ]
    df = spark.createDataFrame(rows, "user_id string, day date, vm long")
    out = range_window_sums(df, ["user_id"], F.col("day"), F.col("vm"), 7)
    got = {r["day"].day: (r["w_sum"], r["w_n"]) for r in out.collect()}
    assert got == {1: (1, 1), 2: (3, 2), 20: (4, 1)}


def test_counter_increase_resets_and_first_sample(spark):
    # counter per key: 10 -> 25 -> 5 (reset: contributes 5) -> 30.
    # first sample contributes 0 (no baseline), total = 15 + 5 + 25 = 45.
    rows = [
        ("u", _ts("2024-01-01 00:00:00"), 10),
        ("u", _ts("2024-01-01 00:01:00"), 25),
        ("u", _ts("2024-01-01 00:02:00"), 5),
        ("u", _ts("2024-01-01 00:03:00"), 30),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, c long")
    out = counter_increase(df, ["user_id"], "ts", "c", F.lit("b")).collect()
    assert out[0]["increase_micro"] == 45 and out[0]["n_samples"] == 4


def test_counter_increase_bucket_boundary_carries_baseline(spark):
    # the lag baseline crosses bucket boundaries (Prometheus increase over
    # adjacent windows must not double-count the boundary step): day-1 end
    # counter 20, day-2 first counter 30 -> day-2 gets the +10 step.
    rows = [
        ("u", _ts("2024-01-01 23:59:00"), 20),
        ("u", _ts("2024-01-02 00:01:00"), 30),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, c long")
    out = counter_increase(
        df, ["user_id"], "ts", "c", F.date_trunc("day", "ts")
    ).collect()
    got = {r["bucket"].day: r["increase_micro"] for r in out}
    assert got == {1: 0, 2: 10}


def test_ohlc_golden(spark):
    rows = [
        ("u", _ts("2024-01-01 00:00:00"), 30),  # open
        ("u", _ts("2024-01-01 12:00:00"), 90),  # high
        ("u", _ts("2024-01-01 18:00:00"), 10),  # low
        ("u", _ts("2024-01-01 23:00:00"), 50),  # close
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, vm long")
    from c3s_sm_spark.operators.timeseries import ohlc

    out = ohlc(df, ["user_id"], "ts", "vm", F.date_trunc("day", "ts")).collect()
    r = out[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n"]) == (30, 90, 10, 50, 4)


def test_value_histogram_clamps_edges(spark):
    from c3s_sm_spark.operators.timeseries import value_histogram

    rows = [("a", -5), ("a", 0), ("a", 9), ("a", 10), ("a", 25), ("a", 999)]
    df = spark.createDataFrame(rows, "k string, vm long")
    out = value_histogram(df, ["k"], "vm", lo_micro=0, width_micro=10, n_bins=3)
    got = {r["bin"]: (r["n"], r["v_sum_micro"], r["bin_lo_micro"]) for r in out.collect()}
    # bin 0: -5 (clamped), 0, 9; bin 1: 10; bin 2: 25, 999 (clamped)
    assert got == {0: (3, 4, 0), 1: (1, 10, 10), 2: (2, 1024, 20)}


def test_sessionize_matches_native_session_window(spark):
    """Parity against Spark's built-in session_window aggregation: the
    lag-flag + running-sum plan must produce the same multiset of
    (n_events) per gap-session as F.session_window. (Boundary caveat:
    session_window treats a delta of EXACTLY gap as a NEW session —
    half-open [start, start+gap) — while sessionize continues it, so the
    fixture avoids exact-gap deltas, which the microsecond corpus never
    produces anyway.)"""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    mine = sorted(
        (r["n_events"])
        for r in session_stats(ev, "user_id", "ts", gap_s=1800).collect()
    )
    native = sorted(
        r["n"]
        for r in ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert mine == native


def test_paired_validation_pieces_and_scores(spark):
    """Pieces: x=[10,20] matched to y=[8,24] (per-probe nearest prior);
    scores: bias/rmsd/pearson cross-checked against numpy on the pieces."""
    from c3s_sm_spark.operators.timeseries import (
        paired_validation,
        validation_scores,
    )

    left = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01 10:00:00"), 10),
            ("u", _ts("2024-01-01 11:00:00"), 20),
            ("u", _ts("2024-01-01 00:00:00"), 99),  # no prior right -> dropped
        ],
        "user_id string, ts timestamp, x long",
    )
    right = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01 09:30:00"), 8),
            ("u", _ts("2024-01-01 10:30:00"), 24),
        ],
        "user_id string, ts timestamp, y long",
    )
    pieces = paired_validation(
        left, right, ["user_id"], x_col="x", y_col="y", tolerance_s=3600
    )
    r = pieces.collect()[0]
    assert (r["n_matched"], r["sx"], r["sy"]) == (2, 30, 32)
    assert (r["sxy"], r["sxx"], r["syy"]) == (10 * 8 + 20 * 24, 500, 640)

    import numpy as np

    s = validation_scores(pieces, scale=1).collect()[0]
    x, y = np.array([10.0, 20.0]), np.array([8.0, 24.0])
    assert abs(s["bias"] - (x - y).mean()) < 1e-12
    assert abs(s["rmsd"] - np.sqrt(((x - y) ** 2).mean())) < 1e-12
    assert abs(s["pearson_r"] - np.corrcoef(x, y)[0, 1]) < 1e-12


def test_validation_scores_zero_variance_gives_null_r(spark):
    from c3s_sm_spark.operators.timeseries import validation_scores

    pieces = spark.createDataFrame(
        [("u", 3, 30, 9, 90, 300, 27)],
        "user_id string, n_matched long, sx long, sy long, sxy long, sxx long, syy long",
    )
    # sy=9, syy=27, n=3 -> var_y = 3*27 - 81 = 0 -> r is null
    s = validation_scores(pieces, scale=1).collect()[0]
    assert s["pearson_r"] is None


def test_ewma_matches_pandas_and_partitioning(spark):
    """Recursive EWMA per key: bit-equal to pandas ewm(adjust=False) and
    invariant under input/output partitioning (each key's series is
    complete + sorted inside one partition). The other row-appending
    recurrences on the per-key ordered map are held to the same
    invariance, and the default width is pinned in the plan."""
    import re

    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        croston_smooth,
        ewma,
        swi_filter,
        whittaker_smooth,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "ts", "value"
    )
    default_width = ewma(ev, ["user_id"], "ts", "value", alpha=0.3)
    plan = spark._jvm.PythonSQLUtils.explainString(
        default_width._jdf.queryExecution(), "formatted"
    )
    n = 2 * spark.sparkContext.defaultParallelism
    assert re.search(rf"hashpartitioning\(user_id#\d+L?, {n}\)", plan), plan
    p1 = (
        default_width
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    p2 = (
        ewma(ev.repartition(17), ["user_id"], "ts", "value", alpha=0.3, n_partitions=3)
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    assert np.array_equal(p1["ewma"].to_numpy(), p2["ewma"].to_numpy())
    pdf = ev.toPandas().sort_values(["user_id", "ts"])
    exp = (
        pdf.groupby("user_id")["value"]
        .transform(lambda s: s.ewm(alpha=0.3, adjust=False).mean())
        .to_numpy()
    )
    assert np.array_equal(p1["ewma"].to_numpy(), exp)

    for op in (
        lambda d, **kw: croston_smooth(d, ["user_id"], "ts", "value", **kw),
        lambda d, **kw: swi_filter(d, ["user_id"], "ts", "value", 5.0, **kw),
        lambda d, **kw: whittaker_smooth(d, ["user_id"], "ts", "value", **kw),
    ):
        a = op(ev).toPandas().sort_values(["user_id", "ts"])
        b = op(ev.repartition(17), n_partitions=3).toPandas()
        b = b.sort_values(["user_id", "ts"])
        assert len(a) == len(p1)
        assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_lttb_golden_and_invariants(spark):
    from c3s_sm_spark.operators.timeseries import lttb

    # golden: 5 points, n_out=3 -> keep first, last, and the interior
    # point with the largest triangle area (the spike at day 3)
    rows = [
        ("u", _ts("2024-01-01 00:00:00"), 0.0),
        ("u", _ts("2024-01-02 00:00:00"), 1.0),
        ("u", _ts("2024-01-03 00:00:00"), 50.0),  # spike
        ("u", _ts("2024-01-04 00:00:00"), 1.0),
        ("u", _ts("2024-01-05 00:00:00"), 0.0),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    got = sorted(r["ts"].day for r in lttb(df, ["user_id"], "ts", "value", 3).collect())
    assert got == [1, 3, 5]

    # invariants on real data: per-key count == min(n_out, n), endpoints
    # kept, partition-invariant output
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "ts", "value"
    )
    out = lttb(ev, ["user_id"], "ts", "value", n_out=10).toPandas()
    src = ev.toPandas()
    cnt = out.groupby("user_id").size()
    n_per = src.groupby("user_id").size()
    assert all(cnt[u] == min(10, n_per[u]) for u in cnt.index)
    for u, g in out.groupby("user_id"):
        s = src[src.user_id == u]
        assert g.ts.min() == s.ts.min() and g.ts.max() == s.ts.max()
    out2 = lttb(
        ev.repartition(13), ["user_id"], "ts", "value", n_out=10, n_partitions=5
    ).toPandas()
    a = out.sort_values(["user_id", "ts"]).reset_index(drop=True)
    b = out2.sort_values(["user_id", "ts"]).reset_index(drop=True)
    assert a.equals(b)

    # the per-key ordered map's segment emitters: same output at any
    # input/output partitioning
    from c3s_sm_spark.operators.timeseries import (
        binseg_changepoints,
        isotonic_blocks,
        matrix_profile_sad,
    )

    for op, order in (
        (matrix_profile_sad, ["user_id", "idx"]),
        (binseg_changepoints, ["user_id", "cp_rank"]),
        (isotonic_blocks, ["user_id", "blk_idx"]),
    ):
        a = op(ev, ["user_id"], "ts", "value").toPandas()
        b = op(ev.repartition(13), ["user_id"], "ts", "value", n_partitions=5)
        b = b.toPandas().sort_values(order).reset_index(drop=True)
        assert len(a) > 0
        assert a.sort_values(order).reset_index(drop=True).equals(b)


def test_lttb_passthrough_when_short(spark):
    from c3s_sm_spark.operators.timeseries import lttb

    rows = [("u", _ts("2024-01-01 00:00:00"), 1.0), ("u", _ts("2024-01-02 00:00:00"), 2.0)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    assert lttb(df, ["user_id"], "ts", "value", 10).count() == 2


@pytest.mark.parametrize(
    "op", ["holt_smooth", "ewma", "lttb", "mann_kendall_pieces"]
)
def test_null_key_rows_form_one_series(spark, op):
    """Rows with a null key are one series, as in Spark's groupBy: each
    operator's output for them equals its output for the same rows
    under a non-null sentinel key (not dropped, not NULL, not garbage)."""
    from c3s_sm_spark.operators import timeseries as tso

    call = {
        "holt_smooth": lambda d: tso.holt_smooth(d, ["k"], "ts", "value", 0.5, 0.3),
        "ewma": lambda d: tso.ewma(d, ["k"], "ts", "value", alpha=0.3),
        "lttb": lambda d: tso.lttb(d, ["k"], "ts", "value", n_out=3),
        "mann_kendall_pieces": lambda d: tso.mann_kendall_pieces(d, ["k"], "ts", "value"),
    }[op]
    series = [
        (_ts(f"2024-01-0{d} 00:00:00"), v)
        for d, v in ((1, 3.0), (2, 1.0), (3, 4.0), (4, 1.0), (5, 5.0), (6, 9.0))
    ]
    other = [("a", t, 2 * v) for t, v in series]

    def rows_for(key):
        df = spark.createDataFrame(
            other + [(key, t, v) for t, v in series],
            "k string, ts timestamp, value double",
        )
        own = F.col("k").isNull() if key is None else F.col("k") == key
        return sorted(tuple(r) for r in call(df).filter(own).drop("k").collect())

    got = rows_for(None)
    assert got and got == rows_for("s")


def test_timeseries_ops_compose_with_tier_pipeline(spark, tmp_path):
    """Engine integration: the point-in-time family runs over the TIER
    tables the pipeline writes (not just raw frames). Daily tier ->
    calendar gap-fill -> interp -> ewma; raw points as-of joined to the
    daily tier must reproduce the tier's own mean for same-day probes."""
    from pyspark.sql import functions as F

    from c3s_sm_spark.operators.timeseries import asof_join, ewma, interp_linear_micro
    from c3s_sm_spark.plans.pipeline import TierPipeline
    from c3s_sm_spark.synth import gen_points_raw

    raw = gen_points_raw(spark, 6, start="2019-10-01", end="2019-10-25").cache()
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw)
    p.refresh()
    daily = p.read_tier("daily").select(
        "doc_id", "ts", F.round(F.col("v_mean") * 10000).cast("long").alias("vm4")
    )

    # gap-fill each key onto the full daily grid, interpolate interiors
    bounds = daily.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("ts")
    )
    grid = (
        daily.select("doc_id").distinct()
        .crossJoin(F.broadcast(cal))
        .join(daily, ["doc_id", "ts"], "left")
    )
    filled = interp_linear_micro(grid, ["doc_id"], "ts", "vm4")
    assert filled.filter(
        F.col("vm4").isNotNull() & (F.col("vm4_filled") != F.col("vm4"))
    ).count() == 0  # observed rows pass through untouched

    smooth = ewma(
        filled.filter(F.col("vm4_filled").isNotNull()),
        ["doc_id"], "ts", "vm4_filled", alpha=0.5,
    )
    assert smooth.filter(F.col("ewma").isNull()).count() == 0

    # as-of: probe each raw point against the daily tier; a probe inside
    # day D matches day D's tier row only if the tier ts (midnight) is
    # <= probe ts — true for every point, so asof_vm4 must equal the
    # tier mean of the probe's own day when that day exists for the key
    probes = raw.select("doc_id", "ts").limit(200)
    aj = asof_join(probes, daily.withColumnRenamed("vm4", "tier_vm4"),
                   ["doc_id"], value_cols=["tier_vm4"], tolerance_s=86400 - 1)
    expect = daily.select(
        F.col("doc_id").alias("e_doc"),
        F.col("ts").alias("day_ts"),
        F.col("vm4").alias("expect_vm4"),
    )
    joined = aj.withColumn("probe_day", F.date_trunc("day", "ts")).join(
        expect,
        (F.col("doc_id") == F.col("e_doc"))
        & (F.col("probe_day") == F.col("day_ts")),
    )
    assert joined.filter(F.col("asof_tier_vm4") != F.col("expect_vm4")).count() == 0
    raw.unpersist()


def test_nearest_match_bidirectional_ties_and_window(spark):
    from c3s_sm_spark.operators.timeseries import nearest_match

    left = spark.createDataFrame(
        [
            ("a", 1, _ts("2024-01-01 10:00:00")),  # next (10:01) closer than prior (09:00)
            ("a", 2, _ts("2024-01-01 10:31:00")),  # tie 30min/30min -> prior wins
            ("b", 3, _ts("2024-01-01 10:00:00")),  # only match is out of window
            ("c", 4, _ts("2024-01-01 10:00:00")),  # no right rows at all
        ],
        "user_id string, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01 09:00:00"), 10),
            ("a", _ts("2024-01-01 10:01:00"), 20),
            ("a", _ts("2024-01-01 11:01:00"), 30),
            ("b", _ts("2024-01-01 14:00:00"), 40),
        ],
        "user_id string, ts timestamp, vm long",
    )
    out = nearest_match(
        left, right, ["user_id"], value_col="vm", window_s=3600
    )
    got = {r["event_id"]: (r["near_vm"], r["near_dt_s"]) for r in out.collect()}
    assert got[1] == (20, -60)      # forward match, signed negative dt
    assert got[2] == (20, 1800)     # exact tie -> prior side wins
    assert got[3] == (None, None)   # 4h away > 1h window
    assert got[4] == (None, None)   # nothing to match


def test_hot_key_skew_correctness(spark):
    """Skew bound in practice: one key holds 96% of rows (50k events),
    the rest spread over 200 keys. The order-dependent ops must still be
    CORRECT (the hot key serializes into one task — the documented
    bound); the associative ohlc aggregate must agree with an
    independent groupBy."""
    from c3s_sm_spark.operators.timeseries import ohlc, session_stats, sessionize

    hot = spark.range(50_000).select(
        F.lit("hot").alias("user_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("id") * 907  # ~15min apart, no session breaks at 1h gap
        ).alias("ts"),
        (F.pmod(F.col("id") * 2654435761, F.lit(1000)) + 1).alias("vm"),
    )
    cold = spark.range(2_000).select(
        F.concat(F.lit("u"), (F.col("id") % 200)).alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 7919).alias("ts"),
        (F.col("id") % 97 + 1).alias("vm"),
    )
    df = hot.unionByName(cold).repartition(32)

    # sessionize: hot key = one unbroken session of 50k (delta 907 < 3600);
    # ordinals must be exactly 1..1 with n_events 50000
    ss = session_stats(df, "user_id", "ts", gap_s=3600)
    hot_row = ss.filter(F.col("user_id") == "hot").collect()
    assert len(hot_row) == 1 and hot_row[0]["n_events"] == 50_000
    # total event conservation across all sessions
    assert ss.agg(F.sum("n_events")).first()[0] == 52_000

    # associative op on the same skewed frame agrees with a plain groupBy
    o = ohlc(df, ["user_id"], "ts", "vm", F.lit("all"))
    exp = df.groupBy("user_id").agg(
        F.min("vm").alias("low"), F.max("vm").alias("high"), F.count("*").alias("n")
    )
    j = o.join(exp.withColumnRenamed("user_id", "u2"), o["user_id"] == F.col("u2"))
    bad = j.filter(
        (o["low"] != exp["low"]) | (o["high"] != exp["high"]) | (o["n"] != exp["n"])
    )
    assert bad.count() == 0

    # sessionize ordinals are dense per key even under skew
    sz = sessionize(df, "user_id", "ts", gap_s=3600)
    mx = sz.groupBy("user_id").agg(
        F.max("session_seq").alias("mx"), F.countDistinct("session_seq").alias("d")
    )
    assert mx.filter(F.col("mx") != F.col("d")).count() == 0


def test_sessionize_scalable_equals_plain_at_any_parallelism(spark):
    """The two-phase boundary-merge sessionizer must reproduce the
    single-task-per-key plain sessionize EXACTLY at any partition count,
    including sessions that span range-partition boundaries and a hot
    key whose one giant session crosses 40 partitions."""
    from c3s_sm_spark.operators.timeseries import sessionize_scalable

    def canon(df):
        return sorted(
            (r["user_id"], str(r["ts"]), r["session_seq"])
            for r in df.select("user_id", "ts", "session_seq").collect()
        )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "ts"
    )
    exp = canon(sessionize(ev, "user_id", "ts", gap_s=1800))
    for n in (2, 7, 32):
        got = canon(sessionize_scalable(ev, "user_id", "ts", gap_s=1800, n_partitions=n))
        assert got == exp, f"mismatch at n_partitions={n}"

    # hot key, one unbroken session over 40 partitions
    hot = spark.range(50_000).select(
        F.lit("hot").alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 900).alias("ts"),
    )
    g = sessionize_scalable(hot, "user_id", "ts", gap_s=1800, n_partitions=40)
    assert g.select("session_seq").distinct().count() == 1
    assert g.count() == 50_000

    # hot key with a break every 1000 events: chained boundary merges
    broken = spark.range(10_000).select(
        F.lit("h2").alias("user_id"),
        F.timestamp_seconds(
            F.lit(1704067200)
            + F.col("id") * 900
            + (F.col("id") / 1000).cast("long") * 7200
        ).alias("ts"),
    )
    e2 = canon(sessionize(broken, "user_id", "ts", gap_s=1800))
    g2 = canon(
        sessionize_scalable(broken, "user_id", "ts", gap_s=1800, n_partitions=23)
    )
    assert g2 == e2


def test_asof_scalable_equals_plain_at_any_parallelism(spark):
    """The two-phase as-of join must reproduce the single-task-per-key
    plain asof_join EXACTLY at any partition count — including carries
    that span many chunks (a value column that is null in 95% of right
    rows), tolerance gating, and tiebreak determinism."""
    from c3s_sm_spark.operators.timeseries import asof_join, asof_join_scalable

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = ev.filter(F.col("event_id") % 3 == 0).select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_id") % 3 != 0).select(
        "user_id",
        "ts",
        "value",
        "event_id",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("value"))
        .alias("v2"),
    )

    def canon(df):
        return sorted(
            (
                r["user_id"],
                str(r["ts"]),
                r["event_id"],
                None if r["asof_value"] is None else round(r["asof_value"], 9),
                None if r["asof_v2"] is None else round(r["asof_v2"], 9),
                r["asof_age_s"],
            )
            for r in df.collect()
        )

    for tol, tb in [(None, None), (3600, "event_id")]:
        exp = canon(
            asof_join(
                left, right, ["user_id"], value_cols=["value", "v2"],
                tolerance_s=tol, tiebreak=tb,
            )
        )
        for n in (2, 7, 32):
            got = canon(
                asof_join_scalable(
                    left, right, ["user_id"], value_cols=["value", "v2"],
                    tolerance_s=tol, tiebreak=tb, n_partitions=n,
                )
            )
            assert got == exp, f"mismatch tol={tol} tb={tb} n_partitions={n}"


def test_asof_scalable_hot_key_sparse_carry(spark):
    """Hot key: 60k interleaved probe/observation rows for ONE key over
    40 range chunks; the sparse column's latest non-null observation is
    often many chunks back, so the carry window must chain through
    chunks that themselves have no non-null value."""
    from c3s_sm_spark.operators.timeseries import asof_join, asof_join_scalable

    hot_l = spark.range(30_000).select(
        F.lit("hot").alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 20 + 7).alias("ts"),
        F.col("id").alias("event_id"),
    )
    hot_r = spark.range(30_000).select(
        F.lit("hot").alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 20).alias("ts"),
        (F.col("id") * 1.5).alias("value"),
        F.when(F.col("id") % 100 < 95, None)
        .otherwise(F.col("id") * 2.0)
        .alias("v2"),
        F.col("id").alias("event_id"),
    )

    def canon(df):
        return sorted(
            (r["event_id"], r["asof_value"], r["asof_v2"], r["asof_age_s"])
            for r in df.collect()
        )

    exp = canon(asof_join(hot_l, hot_r, ["user_id"], value_cols=["value", "v2"]))
    got = canon(
        asof_join_scalable(
            hot_l, hot_r, ["user_id"], value_cols=["value", "v2"], n_partitions=40
        )
    )
    assert got == exp


def test_nearest_scalable_equals_plain_at_any_parallelism(spark):
    """The two-phase bidirectional nearest match must reproduce the
    plain single-task-per-key path EXACTLY at any partition count —
    forward matches crossing chunk boundaries, null-valued right rows
    (per-column carry desync), window gating, and tiebreaks."""
    from c3s_sm_spark.operators.timeseries import (
        nearest_match,
        nearest_match_scalable,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = ev.filter(F.col("event_id") % 3 == 0).select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_id") % 3 != 0).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )

    def canon(df):
        return sorted(
            (
                r["user_id"],
                str(r["ts"]),
                r["event_id"],
                None if r["near_v"] is None else round(r["near_v"], 9),
                r["near_dt_s"],
            )
            for r in df.collect()
        )

    for win, tb in [(None, None), (7200, "event_id")]:
        exp = canon(
            nearest_match(
                left, right, ["user_id"], value_col="v", window_s=win, tiebreak=tb
            )
        )
        for n in (2, 7, 32):
            got = canon(
                nearest_match_scalable(
                    left, right, ["user_id"], value_col="v",
                    window_s=win, tiebreak=tb, n_partitions=n,
                )
            )
            assert got == exp, f"mismatch window_s={win} tb={tb} n_partitions={n}"


def test_nearest_scalable_hot_key(spark):
    """Hot key over 40 chunks: forward candidates at chunk starts come
    from the PREVIOUS row's chunk and vice versa; a 95%-null value
    column forces carries that skip whole chunks in both directions."""
    from c3s_sm_spark.operators.timeseries import (
        nearest_match,
        nearest_match_scalable,
    )

    hot_l = spark.range(30_000).select(
        F.lit("hot").alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 20 + 11).alias("ts"),
        F.col("id").alias("event_id"),
    )
    hot_r = spark.range(30_000).select(
        F.lit("hot").alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 20).alias("ts"),
        F.when(F.col("id") % 100 < 95, None)
        .otherwise(F.col("id") * 2.0)
        .alias("v"),
        F.col("id").alias("event_id"),
    )

    def canon(df):
        return sorted(
            (r["event_id"], r["near_v"], r["near_dt_s"]) for r in df.collect()
        )

    exp = canon(nearest_match(hot_l, hot_r, ["user_id"], value_col="v"))
    got = canon(
        nearest_match_scalable(
            hot_l, hot_r, ["user_id"], value_col="v", n_partitions=40
        )
    )
    assert got == exp


def test_scalable_variants_null_and_typed_keys(spark):
    """Regression: NULL keys must carry across chunks (the carry join is
    null-safe; a plain equi-join never matches NULL=NULL), and non-string
    key types must round-trip exactly (the sessionizer's offsets ship as
    a typed relation, not a string-rendered map: str(1e-4) != Spark's
    CAST(double AS STRING))."""
    from c3s_sm_spark.operators.timeseries import (
        asof_join,
        asof_join_scalable,
        nearest_match,
        nearest_match_scalable,
        sessionize,
        sessionize_scalable,
    )

    # NULL-key series mixed with real keys, breaks every 10 events
    base = spark.range(200).select(
        F.when(F.col("id") % 3 == 0, None).otherwise(
            (F.col("id") % 3).cast("string")
        ).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1704067200)
            + F.col("id") * 600
            + (F.col("id") / 10).cast("long") * 7200
        ).alias("ts"),
        (F.col("id") * 1.0).alias("value"),
        F.col("id").alias("event_id"),
    )

    def canon_s(df):
        return {
            (r["user_id"], str(r["ts"]), r["session_seq"])
            for r in df.select("user_id", "ts", "session_seq").collect()
        }

    exp = canon_s(sessionize(base, "user_id", "ts", gap_s=1800))
    got = canon_s(sessionize_scalable(base, "user_id", "ts", gap_s=1800, n_partitions=8))
    assert got == exp

    # double-typed key whose str() rendering differs from Spark's CAST
    dbl = base.withColumn(
        "user_id",
        F.when(F.col("user_id").isNull(), 1e-4).otherwise(2.5e-5),
    )
    exp = canon_s(sessionize(dbl, "user_id", "ts", gap_s=1800))
    got = canon_s(sessionize_scalable(dbl, "user_id", "ts", gap_s=1800, n_partitions=8))
    assert got == exp

    # as-of + nearest: NULL-key probes must reach right rows in other chunks
    left = base.filter(F.col("event_id") % 2 == 0).select("user_id", "ts", "event_id")
    right = base.filter(F.col("event_id") % 2 == 1).select("user_id", "ts", "value")

    def canon_a(df, cols):
        return {tuple(r[c] for c in cols) for r in df.collect()}

    a_cols = ["user_id", "event_id", "asof_value", "asof_age_s"]
    exp = canon_a(asof_join(left, right, ["user_id"]), a_cols)
    got = canon_a(asof_join_scalable(left, right, ["user_id"], n_partitions=8), a_cols)
    assert got == exp

    n_cols = ["user_id", "event_id", "near_value", "near_dt_s"]
    exp = canon_a(nearest_match(left, right, ["user_id"]), n_cols)
    got = canon_a(
        nearest_match_scalable(left, right, ["user_id"], n_partitions=8), n_cols
    )
    assert got == exp


# ---------------------------------------------------------------- property


def test_scalable_property_equivalence(spark):
    """Hypothesis sweep: random series (NULL keys, NULL values, duplicate
    timestamps) x random partition counts — the scalable variants must
    equal their plain paths on every draw. Driven as one test with an
    inner @given so the session-scoped fixture composes cleanly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from c3s_sm_spark.operators.timeseries import (
        asof_join,
        asof_join_scalable,
        nearest_match,
        nearest_match_scalable,
        sessionize,
        sessionize_scalable,
    )

    ev_st = st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.integers(min_value=0, max_value=20_000),
            st.one_of(st.none(), st.integers(-5, 5).map(float)),
        ),
        min_size=2,
        max_size=50,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(rows=ev_st, n=st.integers(2, 11), gap=st.sampled_from([60, 600, 3000]))
    def check(rows, n, gap):
        data = [
            (k, e, v, i) for i, (k, e, v) in enumerate(rows)
        ]
        df = spark.createDataFrame(
            data, "k string, e long, v double, rid long"
        ).select(
            "k", F.timestamp_seconds("e").alias("ts"), "v", "rid"
        )
        # sessionize
        a = sorted(
            (str(r["k"]), r["rid"], r["session_seq"])
            for r in sessionize(df, "k", "ts", gap_s=gap).collect()
        )
        b = sorted(
            (str(r["k"]), r["rid"], r["session_seq"])
            for r in sessionize_scalable(
                df, "k", "ts", gap_s=gap, n_partitions=n
            ).collect()
        )
        assert a == b
        # as-of + nearest (probes = even epochs, observations = odd)
        left = df.filter(F.col("e") % 2 == 0).select("k", "ts", "rid")
        right = df.filter(F.col("e") % 2 == 1).select("k", "ts", "v", "rid")
        if left.count() and right.count():
            pa = {
                (str(r["k"]), r["rid"], r["asof_v"], r["asof_age_s"])
                for r in asof_join(
                    left, right, ["k"], value_cols=["v"],
                    tolerance_s=gap, tiebreak="rid",
                ).collect()
            }
            pb = {
                (str(r["k"]), r["rid"], r["asof_v"], r["asof_age_s"])
                for r in asof_join_scalable(
                    left, right, ["k"], value_cols=["v"],
                    tolerance_s=gap, tiebreak="rid", n_partitions=n,
                ).collect()
            }
            assert pa == pb
            na = {
                (str(r["k"]), r["rid"], r["near_v"], r["near_dt_s"])
                for r in nearest_match(
                    left, right, ["k"], value_col="v",
                    window_s=gap, tiebreak="rid",
                ).collect()
            }
            nb = {
                (str(r["k"]), r["rid"], r["near_v"], r["near_dt_s"])
                for r in nearest_match_scalable(
                    left, right, ["k"], value_col="v",
                    window_s=gap, tiebreak="rid", n_partitions=n,
                ).collect()
            }
            assert na == nb

    check()


def test_forward_fill_limit_and_edges(spark):
    rows = [
        ("a", _ts("2024-01-01"), None),   # leading null: never filled
        ("a", _ts("2024-01-02"), 10),
        ("a", _ts("2024-01-03"), None),   # age 1 -> carried
        ("a", _ts("2024-01-04"), None),   # age 2 -> carried
        ("a", _ts("2024-01-05"), None),   # age 3 > limit=2 -> null
        ("a", _ts("2024-01-06"), 20),
        ("a", _ts("2024-01-07"), None),   # age 1 from the NEW obs
        ("b", _ts("2024-01-01"), 7),
        ("b", _ts("2024-01-02"), None),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
    from c3s_sm_spark.operators.timeseries import forward_fill

    got = {
        (r["k"], r["ts"].day): r["v_ffill"]
        for r in forward_fill(df, ["k"], "ts", "v", limit=2).collect()
    }
    assert got == {
        ("a", 1): None, ("a", 2): 10, ("a", 3): 10, ("a", 4): 10,
        ("a", 5): None, ("a", 6): 20, ("a", 7): 20,
        ("b", 1): 7, ("b", 2): 7,
    }
    # limit=None fills every null after the first observation
    unbounded = {
        (r["k"], r["ts"].day): r["v_ffill"]
        for r in forward_fill(df, ["k"], "ts", "v", limit=None).collect()
    }
    assert unbounded[("a", 5)] == 10 and unbounded[("a", 1)] is None
    # matches pandas ffill(limit=) on a random series
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    vals = [int(x) if rng.random() > 0.4 else None for x in rng.integers(0, 100, 60)]
    pdf = pd.DataFrame(
        {
            "k": ["r"] * 60,
            "ts": pd.date_range("2024-01-01", periods=60, freq="D"),
            "v": pd.array(vals, dtype="Int64"),
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = (
        forward_fill(sdf, ["k"], "ts", "v", limit=3)
        .orderBy("ts")
        .toPandas()["v_ffill"]
        .astype("Int64")
    )
    expect = pdf["v"].ffill(limit=3)
    assert out.isna().equals(expect.isna())
    assert (out.dropna().to_numpy() == expect.dropna().to_numpy()).all()


def test_rolling_median2_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 40 + ["b"] * 25,
            "ts": list(pd.date_range("2024-01-01", periods=40, freq="D"))
            + list(pd.date_range("2024-03-01", periods=25, freq="D")),
            "v": rng.integers(-1000, 1000, 65),
        }
    )
    from c3s_sm_spark.operators.timeseries import rolling_median2

    sdf = spark.createDataFrame(pdf)
    got = (
        rolling_median2(sdf, ["k"], "ts", "v", window_rows=7)
        .orderBy("k", "ts")
        .toPandas()
    )
    expect = (
        pdf.sort_values(["k", "ts"])
        .groupby("k")["v"]
        .rolling(7, min_periods=1)
        .median()
        .reset_index(drop=True)
        * 2
    )
    assert (got["med2"].to_numpy() == expect.to_numpy().astype("int64")).all()


def test_cusum_scores_locates_mean_shift(spark):
    # 20 days at 100 then 20 days at 200: |D_k| peaks exactly at the
    # last pre-shift day; verify peak/argmax vs direct numpy
    import numpy as np

    vals = [100] * 20 + [200] * 20
    rows = [
        ("s", _ts("2024-01-01") + dt.timedelta(days=i), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, vm long")
    from c3s_sm_spark.operators.anomaly import cusum_scores

    [r] = cusum_scores(df, ["k"], ts_col="ts", micro_col="vm").collect()
    v = np.array(vals, dtype=np.int64)
    n, tot = len(v), v.sum()
    d = np.abs(n * np.cumsum(v) - np.arange(1, n + 1) * tot)
    assert r["peak"] == int(d.max()) and r["n"] == n
    assert r["peak_epoch"] == int(
        (_ts("2024-01-01") + dt.timedelta(days=int(d.argmax()))).timestamp()
    )
    assert int(d.argmax()) == 19  # the true break location
    # flat series: peak 0, earliest ts wins the argmax tiebreak
    flat = spark.createDataFrame(
        [("f", _ts("2024-02-01") + dt.timedelta(days=i), 5) for i in range(4)],
        "k string, ts timestamp, vm long",
    )
    [fr] = cusum_scores(flat, ["k"], ts_col="ts", micro_col="vm").collect()
    assert fr["peak"] == 0
    assert fr["peak_epoch"] == int(_ts("2024-02-01").timestamp())


def test_lag_corr_pieces_matches_pandas_autocorr(spark):
    """Lag-1 and lag-2 sum pieces must reproduce pandas Series.autocorr
    exactly when fed through validation_scores, and rows whose lag falls
    off the series start must drop out (n_matched = n - lag)."""
    import pandas as pd

    from c3s_sm_spark.operators.timeseries import (
        lag_corr_pieces,
        validation_scores,
    )

    vals = {
        "a": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5],
        "b": [10, 20, 15, 25, 30, 5],
    }
    rows = [
        (k, float(i), int(v))
        for k, series in vals.items()
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(rows, "k string, ts double, v long")
    for lag in (1, 2):
        got = {
            r["k"]: r
            for r in validation_scores(
                lag_corr_pieces(df, ["k"], "ts", "v", lag=lag)
            ).collect()
        }
        for k, series in vals.items():
            expected = pd.Series(series, dtype="float64").autocorr(lag=lag)
            assert got[k]["n_matched"] == len(series) - lag
            assert got[k]["pearson_r"] == pytest.approx(expected, abs=1e-12)


def test_lag_corr_pieces_rejects_bad_lag(spark):
    from c3s_sm_spark.operators.timeseries import lag_corr_pieces

    df = spark.createDataFrame([("a", 1.0, 1)], "k string, ts double, v long")
    with pytest.raises(ValueError, match="lag"):
        lag_corr_pieces(df, ["k"], "ts", "v", lag=0)


def test_paa_symbols_brute_force(spark):
    """Frame means + equal-width binning vs a pure-Python reference,
    including the partial last frame, the clamp at the top edge, and
    the constant-series (hi == lo) branch."""
    import math

    series = {
        "a": [0, 10, 20, 30, 40, 50, 60, 70, 80, 100, 100],  # 11 rows
        "b": [5, 5, 5, 5],  # constant
        "c": [-30, -10, 10, 30],  # negatives
    }
    rows = [
        (k, float(i), int(v))
        for k, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts double, v long")
    from c3s_sm_spark.operators.timeseries import paa_symbols

    got = {
        (r["k"], r["frame"]): (r["n_in_frame"], r["v_sum"], r["symbol"])
        for r in paa_symbols(df, ["k"], "ts", "v", frame_rows=4).collect()
    }

    def ref(vals, frame_rows=4, a=4):
        lo, hi = min(vals), max(vals)
        out = {}
        for f in range(math.ceil(len(vals) / frame_rows)):
            fv = vals[f * frame_rows : (f + 1) * frame_rows]
            s, n = sum(fv), len(fv)
            sym = 0 if hi == lo else min((s - lo * n) * a // ((hi - lo) * n), a - 1)
            out[f] = (n, s, sym)
        return out

    for k, vals in series.items():
        want = ref(vals)
        for f, w in want.items():
            assert got[(k, f)] == w, (k, f)
    # top-edge clamp: key a's last frame mean is 100 == hi -> symbol 3
    assert got[("a", 2)][2] == 3
    # constant series is all symbol 0
    assert all(got[("b", f)][2] == 0 for f in (0,))
    with pytest.raises(ValueError, match="frame_rows"):
        paa_symbols(df, ["k"], "ts", "v", frame_rows=0)
    with pytest.raises(ValueError, match="alphabet"):
        paa_symbols(df, ["k"], "ts", "v", frame_rows=4, alphabet=1)


def test_interarrival_stats_brute_force(spark):
    """Gap pieces vs numpy diff of the sorted timestamps; equal
    timestamps contribute zero gaps regardless of tie order; keys with
    one event drop out."""
    import datetime as dt

    import numpy as np

    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    offs = {
        "a": [0, 60, 60, 300, 301, 3600],  # tie at 60
        "b": [10, 10, 10],  # all ties
        "solo": [5],
    }
    rows = [
        (k, base + dt.timedelta(seconds=s)) for k, ss in offs.items() for s in ss
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    from c3s_sm_spark.operators.timeseries import interarrival_stats

    got = {r["k"]: r for r in interarrival_stats(df, ["k"], "ts").collect()}
    assert "solo" not in got
    for k in ("a", "b"):
        g = np.diff(np.sort(np.array(offs[k], dtype=np.int64)))
        r = got[k]
        assert r["n_gaps"] == len(g)
        assert r["gap_sum"] == int(g.sum())
        assert r["gap_sq_sum"] == int((g * g).sum())
        assert r["gap_min"] == int(g.min())
        assert r["gap_max"] == int(g.max())


def test_forecast_eval_pieces_brute_force(spark):
    """MASE pieces vs a numpy reference: both lags drop the same rows,
    and a perfectly seasonal series has sae_seasonal == 0."""
    import numpy as np

    series = {
        "a": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7],
        "per": [1, 2, 3, 1, 2, 3, 1, 2, 3],  # period-3 exact
        "tiny": [5, 6],  # shorter than season_lag: drops out
    }
    rows = [
        (k, float(i), int(v))
        for k, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts double, v long")
    from c3s_sm_spark.operators.timeseries import forecast_eval_pieces

    got = {
        r["k"]: r for r in forecast_eval_pieces(df, ["k"], "ts", "v", 3).collect()
    }
    assert "tiny" not in got
    for k in ("a", "per"):
        v = np.array(series[k], dtype=np.int64)
        sn, nv = v[3:] - v[:-3], v[3:] - v[2:-1]
        r = got[k]
        assert r["n_eval"] == len(v) - 3
        assert r["sae_seasonal"] == int(np.abs(sn).sum())
        assert r["sae_naive"] == int(np.abs(nv).sum())
        assert r["max_ae_seasonal"] == int(np.abs(sn).max())
    assert got["per"]["sae_seasonal"] == 0
    with pytest.raises(ValueError, match="season_lag"):
        forecast_eval_pieces(df, ["k"], "ts", "v", 1)


def test_threshold_runs_brute_force(spark):
    """Run stats vs a Python scan, incl. run at series start/end,
    singleton runs, all-below and no-below keys."""
    series = {
        "a": [1, 1, 9, 1, 9, 9, 1, 1, 1],  # runs: 2, 1, 3
        "edge": [1, 9, 1],  # runs at both ends
        "all": [0, 0],
        "none": [9, 9, 9],
    }
    rows = [
        (k, float(i), int(v))
        for k, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts double, v long")
    from c3s_sm_spark.operators.timeseries import threshold_runs

    got = {
        r["k"]: (r["n_runs"], r["max_run_len"], r["total_below"])
        for r in threshold_runs(df, ["k"], "ts", "v", threshold=5).collect()
    }

    def ref(vals, t=5):
        runs, cur = [], 0
        for v in vals:
            if v < t:
                cur += 1
            elif cur:
                runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        return (len(runs), max(runs), sum(runs)) if runs else None

    for k, vals in series.items():
        want = ref(vals)
        if want is None:
            assert k not in got
        else:
            assert got[k] == want, k
    assert got["a"] == (3, 3, 6)


def test_funnel_times_brute_force(spark):
    """Funnel chaining vs a Python scan: strict ordering (same-ts pairs
    don't chain), stalled funnels get -1, users without step 1 absent,
    out-of-order completions don't count."""
    import datetime as dt

    base = dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc)

    def t(s):
        return base + dt.timedelta(seconds=s)

    rows = [
        # u1 completes in order
        ("u1", t(0), "view"), ("u1", t(10), "click"), ("u1", t(20), "buy"),
        # u2: click BEFORE view -> step2 must use the later click
        ("u2", t(0), "click"), ("u2", t(5), "view"), ("u2", t(9), "click"),
        # u3: view only
        ("u3", t(1), "view"),
        # u4: buy before click -> funnel stalls at step 2
        ("u4", t(0), "view"), ("u4", t(2), "buy"), ("u4", t(4), "click"),
        # u5: same-ts view+click must NOT chain (strict >)
        ("u5", t(7), "view"), ("u5", t(7), "click"),
        # u6: never views
        ("u6", t(0), "click"), ("u6", t(1), "buy"),
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, ty string")
    from c3s_sm_spark.operators.timeseries import funnel_times

    got = {
        r["u"]: (r["step1_ep"], r["step2_ep"], r["step3_ep"], r["n_steps"])
        for r in funnel_times(df, ["u"], "ts", "ty", ["view", "click", "buy"]).collect()
    }

    def ep(s):
        return int(t(s).timestamp())

    assert got["u1"] == (ep(0), ep(10), ep(20), 3)
    assert got["u2"] == (ep(5), ep(9), -1, 2)
    assert got["u3"] == (ep(1), -1, -1, 1)
    assert got["u4"] == (ep(0), ep(4), -1, 2)
    assert got["u5"] == (ep(7), -1, -1, 1)
    assert "u6" not in got
    with pytest.raises(ValueError, match="steps"):
        funnel_times(df, ["u"], "ts", "ty", ["view"])


def test_cohort_retention_brute_force(spark):
    """Daily and monthly triangles vs a Python reference; offset-0 rows
    equal cohort sizes; per-cohort user totals conserved."""
    import datetime as dt

    def d(day, month=1):
        return dt.datetime(2024, month, day, 12, tzinfo=dt.timezone.utc)

    rows = [
        ("a", d(1)), ("a", d(2)), ("a", d(5)),
        ("b", d(1)), ("b", d(1)),  # same-day dup collapses
        ("c", d(2)), ("c", d(5)),
        ("m", d(28, 1)), ("m", d(3, 2)),  # crosses a month boundary
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp")
    from c3s_sm_spark.operators.timeseries import cohort_retention

    got = {
        (str(r["cohort_period"]), r["period_offset"]): r["n_users"]
        for r in cohort_retention(df, "u", "ts", grain="day").collect()
    }
    want = {
        ("2024-01-01 00:00:00", 0): 2,  # a, b day-1 cohort
        ("2024-01-01 00:00:00", 1): 1,  # a returns day 2
        ("2024-01-01 00:00:00", 4): 1,  # a returns day 5
        ("2024-01-02 00:00:00", 0): 1,  # c
        ("2024-01-02 00:00:00", 3): 1,  # c returns day 5
        ("2024-01-28 00:00:00", 0): 1,  # m
        ("2024-01-28 00:00:00", 6): 1,  # m returns feb 3 (6 days later)
    }
    assert got == want
    gm = {
        (str(r["cohort_period"]), r["period_offset"]): r["n_users"]
        for r in cohort_retention(df, "u", "ts", grain="month").collect()
    }
    assert gm == {
        ("2024-01-01 00:00:00", 0): 4,
        ("2024-01-01 00:00:00", 1): 1,  # m active in feb
    }
    with pytest.raises(ValueError, match="grain"):
        cohort_retention(df, "u", "ts", grain="week")


def test_mad_outliers_brute_force(spark):
    """Median/MAD doubled-units pieces vs a pure-Python reference:
    odd and even counts (interpolated median), a planted spike that a
    Hampel k=3 screen must flag, negatives, and the degenerate
    constant series (MAD=0 -> every off-median value is an outlier)."""
    series = {
        "odd": [10, 12, 11, 13, 9, 11, 500],     # spike, odd n
        "even": [4, 8, 6, 10],                   # interpolated median
        "neg": [-5, -3, -4, -1000, -4, -5],      # negative spike
        "const": [7, 7, 7, 7, 7],                # MAD = 0
        "mixd": [0, 1, 2, 3, 4, 5, 6, 7],        # no outliers
    }
    rows = [(k, int(v)) for k, vals in series.items() for v in vals]
    df = spark.createDataFrame(rows, "k string, v long")
    from c3s_sm_spark.operators.timeseries import mad_outliers

    got = {
        r["k"]: (r["n"], r["med2"], r["mad4"], r["n_outliers"])
        for r in mad_outliers(df, ["k"], "v", k=3).collect()
    }

    def med2_of(vals):
        s = sorted(vals)
        n = len(s)
        return 2 * s[n // 2] if n % 2 else s[n // 2 - 1] + s[n // 2]

    for k, vals in series.items():
        med2 = med2_of(vals)
        dev2 = [abs(2 * v - med2) for v in vals]
        mad4 = med2_of(dev2)
        n_out = sum(1 for d in dev2 if 2 * d > 3 * mad4)
        assert got[k] == (len(vals), med2, mad4, n_out), k
    # the planted spikes are actually flagged
    assert got["odd"][3] >= 1
    assert got["neg"][3] >= 1
    assert got["mixd"][3] == 0
    # constant series: med2 exact, mad4 == 0, nothing off-median
    assert got["const"] == (5, 14, 0, 0)
    with pytest.raises(ValueError, match="k must be"):
        mad_outliers(df, ["k"], "v", k=0)


def test_sax_transitions_brute_force(spark):
    """Transition counts vs a pure-Python walk of the reference
    symbol stream (frame=2, alphabet=4): multi-key pooling, a
    single-frame key contributing nothing, and the total-count
    invariant sum(n_trans) == sum_k (frames_k - 1)."""
    series = {
        "a": [0, 0, 10, 10, 20, 20, 30, 30, 0, 0],  # 5 frames: 0,1,2,3,0
        "b": [5, 5, 5, 5],                          # constant: 0,0
        "c": [1, 2],                                # 1 frame -> no pairs
    }
    rows = [
        (k, float(i), int(v))
        for k, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts double, v long")
    from c3s_sm_spark.operators.timeseries import paa_symbols, sax_transitions

    sym = paa_symbols(df, ["k"], "ts", "v", frame_rows=2, alphabet=4)
    got = {
        (r["sym_from"], r["sym_to"]): r["n_trans"]
        for r in sax_transitions(sym, ["k"]).collect()
    }

    ref_syms = {
        k: [
            r["symbol"]
            for r in sorted(
                sym.filter(F.col("k") == k).collect(),
                key=lambda r: r["frame"],
            )
        ]
        for k in series
    }
    want: dict = {}
    for syms in ref_syms.values():
        for p, q in zip(syms, syms[1:]):
            want[(p, q)] = want.get((p, q), 0) + 1
    assert got == want
    assert ref_syms["a"] == [0, 1, 2, 3, 0]  # the designed staircase
    assert sum(got.values()) == sum(
        max(0, len(s) - 1) for s in ref_syms.values()
    )


def test_seasonal_pieces_brute_force(spark):
    """Centered-MA seasonal pieces equal a Python brute force on a
    gappy multi-key series (edge rows excluded, slots by ordinal mod
    period), invariant to input partitioning; even/low periods fail."""
    import random

    from c3s_sm_spark.operators.timeseries import seasonal_decompose_pieces

    rng = random.Random(83)
    rows = []
    series = {}
    for key in ("a", "b"):
        # gappy ordinals: ~70% of a 40-day span, sorted, unique
        days = sorted(rng.sample(range(100, 140), 28))
        vals = [rng.randint(-500, 500) for _ in days]
        series[key] = (days, vals)
        rows += [(key, d, v) for d, v in zip(days, vals)]
    df = spark.createDataFrame(rows, "k string, day_ix long, v long")

    period, half = 7, 3
    want = {}
    for key, (days, vals) in series.items():
        for i in range(half, len(days) - half):
            wsum = sum(vals[i - half : i + half + 1])
            slot = days[i] % period
            dt, n = want.get((key, slot), (0, 0))
            want[(key, slot)] = (dt + period * vals[i] - wsum, n + 1)

    for parts in (1, 5):
        got = {
            (r["k"], r["slot"]): (r["dt_sum"], r["n_obs"])
            for r in seasonal_decompose_pieces(
                df.repartition(parts), ["k"], "day_ix", "v", period=period
            ).collect()
        }
        assert got == want, parts

    with pytest.raises(ValueError, match="odd"):
        seasonal_decompose_pieces(df, ["k"], "day_ix", "v", period=6)


def test_m4_downsample_brute_force(spark):
    """M4 equals brute force on a series with VALUE TIES inside
    buckets (exercises the earliest-min / latest-max tie rules),
    drops out-of-range rows, and is partitioning-invariant."""
    import random

    from c3s_sm_spark.operators.timeseries import m4_downsample

    rng = random.Random(87)
    rows = []
    for key in ("a", "b"):
        for t in range(1000, 1200, 3):
            rows.append((key, t, rng.randint(-5, 5)))  # small range -> ties
    rows.append(("a", 5, 99))     # below range: dropped
    rows.append(("a", 9999, 99))  # above range: dropped
    df = spark.createDataFrame(rows, "k string, t long, v long")

    t0, t1, n = 1000, 1199, 7
    span = t1 - t0 + 1
    want = {}
    for key, t, v in rows:
        if not (t0 <= t <= t1):
            continue
        b = (t - t0) * n // span
        cur = want.get((key, b))
        if cur is None:
            want[(key, b)] = [t, v, t, v, v, t, v, t]
        else:
            if t < cur[0]:
                cur[0], cur[1] = t, v
            if t > cur[2]:
                cur[2], cur[3] = t, v
            if v < cur[4] or (v == cur[4] and t < cur[5]):
                cur[4], cur[5] = v, t
            if v > cur[6] or (v == cur[6] and t > cur[7]):
                cur[6], cur[7] = v, t
    want = {k: tuple(x) for k, x in want.items()}

    for parts in (1, 6):
        got = {
            (r["k"], r["bucket"]): (
                r["t_first"], r["v_first"], r["t_last"], r["v_last"],
                r["v_min"], r["t_min"], r["v_max"], r["t_max"],
            )
            for r in m4_downsample(
                df.repartition(parts), ["k"], "t", "v", t0, t1, n_buckets=n
            ).collect()
        }
        assert got == want, parts

    with pytest.raises(ValueError, match="t_end"):
        m4_downsample(df, ["k"], "t", "v", 10, 5)
    with pytest.raises(ValueError, match="n_buckets"):
        m4_downsample(df, ["k"], "t", "v", 0, 10, n_buckets=0)


def test_cooccurrence_lift_brute_force(spark):
    """Lift pieces equal a Python brute force over hand-sessionized
    events (gap splits honored, within-session type dedup honored,
    pairs unordered a<b), invariant to partitioning."""
    import datetime as dt

    from c3s_sm_spark.operators.timeseries import cooccurrence_lift_pieces

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    # u1: two sessions — {A,B,A} (dup A) then after a 1-hour gap {B,C}
    for off, ty in ((0, "A"), (60, "B"), (120, "A")):
        rows.append(("u1", t0 + dt.timedelta(seconds=off), ty))
    for off, ty in ((7200, "B"), (7260, "C")):
        rows.append(("u1", t0 + dt.timedelta(seconds=off), ty))
    # u2: one session {A, C}
    for off, ty in ((0, "A"), (300, "C")):
        rows.append(("u2", t0 + dt.timedelta(seconds=off), ty))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_type string")

    # brute: sessions = {u1s1: {A,B}, u1s2: {B,C}, u2s1: {A,C}}
    sessions = [{"A", "B"}, {"B", "C"}, {"A", "C"}]
    n = len(sessions)
    marg = {t: sum(t in s for s in sessions) for t in "ABC"}
    want = {}
    for a, b in (("A", "B"), ("A", "C"), ("B", "C")):
        j = sum(a in s and b in s for s in sessions)
        if j:
            want[(a, b)] = (j, marg[a], marg[b], n)

    for parts in (1, 4):
        got = {
            (r["type_a"], r["type_b"]): (
                r["joint"], r["m_a"], r["m_b"], r["n_sessions"]
            )
            for r in cooccurrence_lift_pieces(
                df.repartition(parts), "user_id", "ts", "event_type", 1800
            ).collect()
        }
        assert got == want, parts


# ---------------------------------------------------------------- X91
# rolling_distinct: dedupe-then-fan-out sliding distinct count


def _rd_frame(spark):
    rows = [
        # user u1 active on d1, d1 (dup event), d3; u2 on d1; u3 on d4
        ("u1", _ts("2024-03-01 08:00:00")),
        ("u1", _ts("2024-03-01 09:00:00")),
        ("u1", _ts("2024-03-03 08:00:00")),
        ("u2", _ts("2024-03-01 23:59:59")),
        ("u3", _ts("2024-03-04 00:00:00")),
    ]
    return spark.createDataFrame(rows, "user_id string, ts timestamp")


def test_rolling_distinct_brute_force(spark):
    from c3s_sm_spark.operators.timeseries import rolling_distinct

    df = _rd_frame(spark)
    got = {
        r["w_end"].isoformat(): (r["active"], r["key_days"])
        for r in rolling_distinct(df, window_days=3).collect()
    }
    # brute force: window [w_end-2, w_end]; max day = 03-04, leading
    # partial windows included
    assert got == {
        "2024-03-01": (2, 2),  # u1,u2
        "2024-03-02": (2, 2),  # u1,u2 (from 03-01)
        "2024-03-03": (2, 3),  # u1(03-01,03-03),u2
        "2024-03-04": (2, 2),  # u1(03-03),u3
    }


def test_rolling_distinct_window1_is_daily_distinct(spark):
    from c3s_sm_spark.operators.timeseries import rolling_distinct

    df = _rd_frame(spark)
    got = {
        r["w_end"].isoformat(): r["active"]
        for r in rolling_distinct(df, window_days=1).collect()
    }
    assert got == {"2024-03-01": 2, "2024-03-03": 1, "2024-03-04": 1}


def test_rolling_distinct_partitioning_invariance(spark):
    from c3s_sm_spark.operators.timeseries import rolling_distinct

    df = _rd_frame(spark)
    a = sorted(tuple(r) for r in rolling_distinct(df.repartition(7), window_days=3).collect())
    b = sorted(tuple(r) for r in rolling_distinct(df.coalesce(1), window_days=3).collect())
    assert a == b


def test_rolling_distinct_guard(spark):
    from c3s_sm_spark.operators.timeseries import rolling_distinct

    with pytest.raises(ValueError):
        rolling_distinct(_rd_frame(spark), window_days=0)


# ---------------------------------------------------------------- X93
# table_diff: keyed snapshot CDC


def test_table_diff_statuses_and_nullsafe(spark):
    from c3s_sm_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "c"), (4, 40.0, "d")],
        "k long, v double, t string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "a"),        # unchanged
         (2, None, "b"),        # unchanged (NULL <=> NULL is true)
         (3, 31.0, "c"),        # changed (value)
         (5, 50.0, "e")],       # added; k=4 deleted
        "k long, v double, t string",
    )
    got = {r["k"]: r["status"] for r in table_diff(old, new, ["k"]).collect()}
    assert got == {3: "changed", 4: "deleted", 5: "added"}
    # NULL -> value transition must be 'changed', not 'unchanged'
    new2 = new.withColumn(
        "v", F.when(F.col("k") == 2, 2.0).otherwise(F.col("v"))
    )
    got2 = {r["k"]: r["status"] for r in table_diff(old, new2, ["k"]).collect()}
    assert got2[2] == "changed"


def test_table_diff_include_unchanged_and_sides(spark):
    from c3s_sm_spark.operators.diff import table_diff

    old = spark.createDataFrame([(1, 10.0)], "k long, v double")
    new = spark.createDataFrame([(1, 11.0)], "k long, v double")
    rows = table_diff(old, new, ["k"], include_unchanged=True).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["v_old"], r["v_new"], r["status"]) == (10.0, 11.0, "changed")
    with pytest.raises(ValueError):
        table_diff(old, new, [])


def test_diff_summary_checksum(spark):
    from c3s_sm_spark.operators.diff import diff_summary, table_diff

    old = spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double")
    new = spark.createDataFrame(
        [(i, float(i) + (1 if i % 3 == 0 else 0)) for i in range(2, 12)],
        "k long, v double",
    )
    s = {r["status"]: (r["n"], r["key_sum"])
         for r in diff_summary(table_diff(old, new, ["k"]), "k").collect()}
    assert s["added"] == (2, 21)          # 10, 11
    assert s["deleted"] == (2, 1)         # 0, 1
    assert s["changed"] == (3, 18)        # 3, 6, 9


# ---------------------------------------------------------------- X94
# scd2_intervals: dimension-history construction


def test_scd2_collapses_and_versions(spark):
    from c3s_sm_spark.operators.timeseries import scd2_intervals

    df = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01 00:00:00"), "a", 1),
            ("u", _ts("2024-01-01 01:00:00"), "a", 2),  # same value: collapse
            ("u", _ts("2024-01-01 02:00:00"), "b", 3),  # change -> v2
            ("u", _ts("2024-01-01 03:00:00"), "a", 4),  # back to a -> v3
            ("v", _ts("2024-01-01 00:30:00"), "x", 5),  # other key
        ],
        "k string, ts timestamp, attr string, eid long",
    )
    out = sorted(
        (r["k"], r["version"], r["attr"],
         r["valid_from"].isoformat(), r["valid_to"].isoformat() if r["valid_to"] else None)
        for r in scd2_intervals(df, ["k"], "ts", ["attr"], tiebreak="eid").collect()
    )
    assert out == [
        ("u", 1, "a", "2024-01-01T00:00:00", "2024-01-01T02:00:00"),
        ("u", 2, "b", "2024-01-01T02:00:00", "2024-01-01T03:00:00"),
        ("u", 3, "a", "2024-01-01T03:00:00", None),
        ("v", 1, "x", "2024-01-01T00:30:00", None),
    ]


def test_scd2_nullsafe_changes_and_tiebreak(spark):
    from c3s_sm_spark.operators.timeseries import scd2_intervals

    df = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01 00:00:00"), None, 1),   # v1: NULL attr
            ("u", _ts("2024-01-01 01:00:00"), "a", 2),    # NULL->a: change
            ("u", _ts("2024-01-01 02:00:00"), None, 3),   # a->NULL: change
            # same-ts pair: tiebreak orders eid 4 before 5 -> b then c
            ("u", _ts("2024-01-01 03:00:00"), "b", 4),
            ("u", _ts("2024-01-01 03:00:00"), "c", 5),
        ],
        "k string, ts timestamp, attr string, eid long",
    )
    got = [
        (r["version"], r["attr"])
        for r in scd2_intervals(df, ["k"], "ts", ["attr"], tiebreak="eid")
        .orderBy("version")
        .collect()
    ]
    assert got == [(1, None), (2, "a"), (3, None), (4, "b"), (5, "c")]


def test_scd2_guard(spark):
    from c3s_sm_spark.operators.timeseries import scd2_intervals

    df = spark.createDataFrame([("u", _ts("2024-01-01 00:00:00"), "a")],
                               "k string, ts timestamp, attr string")
    with pytest.raises(ValueError):
        scd2_intervals(df, [], "ts", ["attr"])
    with pytest.raises(ValueError):
        scd2_intervals(df, ["k"], "ts", [])


# ---------------------------------------------------------------- X95
# lateness_profile: out-of-order arrival / watermark sizing


def test_lateness_frontier_excludes_self(spark):
    from c3s_sm_spark.operators.timeseries import lateness_profile

    # arrival order (aid): event times 10:00, 12:00, 11:00, 12:00
    # frontier before each: -, 10:00, 12:00, 12:00
    # lateness:              0,  0,     3600,  0 (own ts never counts)
    df = spark.createDataFrame(
        [
            ("u", 1, _ts("2024-01-01 10:00:00")),
            ("u", 2, _ts("2024-01-01 12:00:00")),
            ("u", 3, _ts("2024-01-01 11:00:00")),
            ("u", 4, _ts("2024-01-01 12:00:00")),
        ],
        "k string, aid long, ts timestamp",
    )
    row = lateness_profile(df, ["k"], "ts", "aid").collect()[0]
    assert (row["n"], row["n_late"], row["late_sum_s"], row["late_max_s"]) == (
        4, 1, 3600, 3600,
    )


def test_lateness_per_key_frontiers_independent(spark):
    from c3s_sm_spark.operators.timeseries import lateness_profile

    # key b's early event must not be late against key a's frontier
    df = spark.createDataFrame(
        [
            ("a", 1, _ts("2024-01-01 23:00:00")),
            ("b", 2, _ts("2024-01-01 01:00:00")),
            ("b", 3, _ts("2024-01-01 00:00:00")),  # 3600s late within b
        ],
        "k string, aid long, ts timestamp",
    )
    row = lateness_profile(df, ["k"], "ts", "aid").collect()[0]
    assert (row["n"], row["n_late"], row["late_sum_s"]) == (3, 1, 3600)
    with pytest.raises(ValueError):
        lateness_profile(df, [], "ts", "aid")


# ---------------------------------------------------------------- X98
# trend_pieces: per-key OLS integer pieces


def test_trend_pieces_slope_matches_numpy(spark):
    import numpy as np
    from c3s_sm_spark.operators.timeseries import trend_pieces

    # y = 2.5*x + 1 with one repeated day (two obs same x)
    rows = [
        ("k", _ts("2024-01-01 06:00:00"), 1.0),
        ("k", _ts("2024-01-02 06:00:00"), 3.5),
        ("k", _ts("2024-01-02 18:00:00"), 3.5),
        ("k", _ts("2024-01-04 06:00:00"), 8.5),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    p = trend_pieces(df, ["k"], "ts", "value").collect()[0]
    n, sx, sy, sxy, sxx = p["n"], p["sx"], p["sy"], p["sxy"], p["sxx"]
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx) / 10000
    xs = np.array([0, 1, 1, 3.0])
    ys = np.array([1.0, 3.5, 3.5, 8.5])
    expect = np.polyfit(xs, ys, 1)[0]
    assert abs(slope - expect) < 1e-9
    assert (n, sx) == (4, 5)


def test_trend_pieces_mergeable(spark):
    # partial sums from two loads must add to the full-frame sums
    from c3s_sm_spark.operators.timeseries import trend_pieces

    rows = [("k", _ts(f"2024-01-0{d} 06:00:00"), float(d)) for d in range(1, 8)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    full = trend_pieces(df, ["k"], "ts", "value").collect()[0]
    a = trend_pieces(df.limit(3), ["k"], "ts", "value").collect()[0]
    b = trend_pieces(df.subtract(df.limit(3)), ["k"], "ts", "value").collect()[0]
    for c in ("n", "sx", "sy", "sxy", "sxx"):
        assert a[c] + b[c] == full[c]
    with pytest.raises(ValueError):
        trend_pieces(df, [], "ts", "value")


def test_triple_collocation_pieces_match_numpy(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        triple_collocation_pieces,
        triple_collocation_scores,
    )

    rng = np.random.default_rng(42)
    x = rng.integers(-500, 500, 60)
    y = x + rng.integers(-50, 50, 60)
    z = x + rng.integers(-80, 80, 60)
    df = spark.createDataFrame(
        [("g", int(a), int(b), int(c)) for a, b, c in zip(x, y, z)],
        "k string, x long, y long, z long",
    )
    p = triple_collocation_pieces(df, ["k"], "x", "y", "z").collect()[0]
    assert p["n"] == 60
    assert p["sx"] == int(x.sum()) and p["sxy"] == int((x * y).sum())
    assert p["szz"] == int((z * z).sum()) and p["syz"] == int((y * z).sum())

    # scores == direct numpy covariance TC (scale=1: inputs unscaled)
    q = np.cov(np.stack([x, y, z]), bias=True)
    want_evx = q[0, 0] - q[0, 1] * q[0, 2] / q[1, 2]
    want_evy = q[1, 1] - q[0, 1] * q[1, 2] / q[0, 2]
    want_evz = q[2, 2] - q[0, 2] * q[1, 2] / q[0, 1]
    s = triple_collocation_scores(
        triple_collocation_pieces(df, ["k"], "x", "y", "z"), scale=1
    ).collect()[0]
    assert s["err_var_x"] == pytest.approx(want_evx, rel=1e-9)
    assert s["err_var_y"] == pytest.approx(want_evy, rel=1e-9)
    assert s["err_var_z"] == pytest.approx(want_evz, rel=1e-9)
    want_snr_x = -10 * np.log10(q[0, 0] * q[1, 2] / (q[0, 1] * q[0, 2]) - 1)
    assert s["snr_x_db"] == pytest.approx(want_snr_x, rel=1e-9)


def test_triple_collocation_recovers_synthetic_error_variances(spark):
    # the estimator's whole point: three independent noisy views of a
    # common signal -> each source's error variance, no ground truth.
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        triple_collocation_pieces,
        triple_collocation_scores,
    )

    rng = np.random.default_rng(7)
    n = 20000
    truth = rng.normal(0, 100, n)
    ex, ey, ez = 20.0, 35.0, 50.0  # true error stddevs
    x = np.rint(truth + rng.normal(0, ex, n)).astype(np.int64)
    y = np.rint(truth + rng.normal(0, ey, n)).astype(np.int64)
    z = np.rint(truth + rng.normal(0, ez, n)).astype(np.int64)
    df = spark.createDataFrame(
        [("g", int(a), int(b), int(c)) for a, b, c in zip(x, y, z)],
        "k string, x long, y long, z long",
    )
    s = triple_collocation_scores(
        triple_collocation_pieces(df, ["k"], "x", "y", "z"), scale=1
    ).collect()[0]
    # sampling noise at n=20k: ~few percent; allow 10%
    assert s["err_var_x"] == pytest.approx(ex * ex, rel=0.10)
    assert s["err_var_y"] == pytest.approx(ey * ey, rel=0.10)
    assert s["err_var_z"] == pytest.approx(ez * ez, rel=0.10)
    # SNR ordering follows error ordering (same sensitivity)
    assert s["snr_x_db"] > s["snr_y_db"] > s["snr_z_db"]


def test_triple_collocation_undefined_when_uncorrelated(spark):
    # y,z pure noise -> Qyz ~ 0 / negative: estimator must null, not lie
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        triple_collocation_pieces,
        triple_collocation_scores,
    )

    rng = np.random.default_rng(3)
    x = rng.integers(-100, 100, 500)
    y = rng.integers(-100, 100, 500)
    z = -y  # perfectly anti-correlated pair: Qyz < 0
    df = spark.createDataFrame(
        [("g", int(a), int(b), int(c)) for a, b, c in zip(x, y, z)],
        "k string, x long, y long, z long",
    )
    s = triple_collocation_scores(
        triple_collocation_pieces(df, ["k"], "x", "y", "z"), scale=1
    ).collect()[0]
    assert s["err_var_x"] is None  # Qyz <= 0 -> undefined


def test_triple_collocation_partitioning_invariance(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import triple_collocation_pieces

    rng = np.random.default_rng(11)
    rows = [
        (f"k{i % 3}", int(a), int(b), int(c))
        for i, (a, b, c) in enumerate(
            zip(*[rng.integers(-1000, 1000, 300) for _ in range(3)])
        )
    ]
    df = spark.createDataFrame(rows, "k string, x long, y long, z long")
    a = {
        r["k"]: r.asDict()
        for r in triple_collocation_pieces(df, ["k"], "x", "y", "z").collect()
    }
    b = {
        r["k"]: r.asDict()
        for r in triple_collocation_pieces(
            df.repartition(17), ["k"], "x", "y", "z"
        ).collect()
    }
    assert a == b


def test_collocate3_matches_and_filters(spark):
    from c3s_sm_spark.operators.timeseries import collocate3

    base = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01 10:00:00"), 10),  # both match
            ("a", _ts("2024-01-01 11:00:00"), 20),  # z out of tolerance
            ("b", _ts("2024-01-01 10:00:00"), 30),  # no y at all
        ],
        "k string, ts timestamp, x long",
    )
    second = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01 09:59:00"), 101),
            ("a", _ts("2024-01-01 10:59:00"), 102),
        ],
        "k string, ts timestamp, y long",
    )
    third = spark.createDataFrame(
        [("a", _ts("2024-01-01 09:58:00"), 201)],
        "k string, ts timestamp, z long",
    )
    out = collocate3(
        base, second, third, ["k"], tolerance_s=600,
        value_cols=("x", "y", "z"),
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["k"], r["x"], r["y"], r["z"]) == ("a", 10, 101, 201)


def test_mann_kendall_pieces_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import mann_kendall_pieces

    rng = np.random.default_rng(19)
    rows = []
    for k in ("a", "b"):
        # values with deliberate ties
        for i in range(40):
            rows.append(
                (k, _ts("2024-01-01 00:00:00") + dt.timedelta(hours=i),
                 i, int(rng.integers(-5, 6)))
            )
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v long")
    out = {
        r["k"]: r.asDict()
        for r in mann_kendall_pieces(
            df, ["k"], "ts", "v", tiebreak="eid"
        ).collect()
    }
    for k in ("a", "b"):
        vs = [v for kk, _, _, v in rows if kk == k]
        n = len(vs)
        pos = sum(
            1 for i in range(n) for j in range(i + 1, n) if vs[j] > vs[i]
        )
        neg = sum(
            1 for i in range(n) for j in range(i + 1, n) if vs[j] < vs[i]
        )
        _, counts = np.unique(vs, return_counts=True)
        tie = int(sum(t * (t - 1) * (2 * t + 5) for t in counts))
        assert out[k]["n"] == n and out[k]["n_pos"] == pos
        assert out[k]["n_neg"] == neg and out[k]["s"] == pos - neg
        assert out[k]["n_zero"] == n * (n - 1) // 2 - pos - neg
        assert out[k]["tie_term"] == tie
        assert out[k]["var18"] == n * (n - 1) * (2 * n + 5) - tie


def test_mann_kendall_monotone_and_scores(spark):
    import math

    from c3s_sm_spark.operators.timeseries import (
        mann_kendall_pieces,
        mann_kendall_scores,
    )

    # strictly increasing series of n=10: S = 45, no ties
    rows = [
        ("up", _ts("2024-01-01") + dt.timedelta(days=i), i, 10 * i)
        for i in range(10)
    ]
    # constant series: S = 0, var18 = 0 -> z, p null
    rows += [
        ("flat", _ts("2024-01-01") + dt.timedelta(days=i), i, 7)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v long")
    s = {
        r["k"]: r.asDict()
        for r in mann_kendall_scores(
            mann_kendall_pieces(df, ["k"], "ts", "v", tiebreak="eid")
        ).collect()
    }
    assert s["up"]["s"] == 45 and s["up"]["tie_term"] == 0
    var = 10 * 9 * 25 / 18.0  # 125
    want_z = (45 - 1) / math.sqrt(var)
    assert s["up"]["z"] == pytest.approx(want_z, rel=1e-12)
    # p = erfc(|z|/sqrt2); z=3.936 -> p ~ 8.28e-5 (A&S approx, <1.5e-7 err)
    assert s["up"]["p_value"] == pytest.approx(
        math.erfc(want_z / math.sqrt(2)), abs=2e-7
    )
    assert s["flat"]["s"] == 0 and s["flat"]["var18"] == 0
    assert s["flat"]["z"] is None and s["flat"]["p_value"] is None


def test_sen_slope_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import sen_slope

    rng = np.random.default_rng(23)
    ts0 = _ts("2024-01-01 00:00:00")
    # irregular spacing incl. a duplicate timestamp (zero-dx pair drops)
    offs = [0, 1, 1, 3, 7, 12, 20, 33]
    vals = [int(v) for v in rng.integers(-100, 100, len(offs))]
    rows = [
        ("g", ts0 + dt.timedelta(days=o), i, v)
        for i, (o, v) in enumerate(zip(offs, vals))
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v long")
    out = sen_slope(df, ["k"], "ts", "v", tiebreak="eid").collect()[0]
    slopes = []
    for i in range(len(offs)):
        for j in range(i + 1, len(offs)):
            dx = offs[j] - offs[i]
            if dx != 0:
                slopes.append((vals[j] - vals[i]) / dx)
    assert out["n_slopes"] == len(slopes)
    assert out["slope"] == pytest.approx(float(np.median(slopes)), rel=1e-12)
    # pure linear series recovers the exact slope
    lin = spark.createDataFrame(
        [("l", ts0 + dt.timedelta(days=i), i, 5 * i) for i in range(12)],
        "k string, ts timestamp, eid long, v long",
    )
    assert sen_slope(lin, ["k"], "ts", "v").collect()[0]["slope"] == pytest.approx(5.0)


def test_mann_kendall_partitioning_invariance(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import mann_kendall_pieces

    rng = np.random.default_rng(31)
    rows = [
        (f"k{i % 4}", _ts("2024-01-01") + dt.timedelta(hours=i), i,
         int(rng.integers(-50, 50)))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v long")
    a = {
        r["k"]: r.asDict()
        for r in mann_kendall_pieces(df, ["k"], "ts", "v", tiebreak="eid").collect()
    }
    b = {
        r["k"]: r.asDict()
        for r in mann_kendall_pieces(
            df.repartition(13), ["k"], "ts", "v", tiebreak="eid"
        ).collect()
    }
    assert a == b


def test_allan_pieces_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import allan_pieces, allan_scores

    rng = np.random.default_rng(37)
    n = 50  # m=4 -> 12 complete bins; m=16 -> 3; tail dropped in both
    vals = [int(v) for v in rng.integers(-100, 100, n)]
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v long")
    out = {
        r["m"]: r.asDict()
        for r in allan_pieces(
            df, ["k"], "ts", "v", ms=(4, 16), tiebreak="eid"
        ).collect()
    }
    for m in (4, 16):
        nb = n // m
        sums = [sum(vals[k * m:(k + 1) * m]) for k in range(nb)]
        dsum2 = sum(
            (sums[k + 1] - sums[k]) ** 2 for k in range(nb - 1)
        )
        assert out[m]["n_bins"] == nb
        assert out[m]["n_pairs"] == nb - 1
        assert out[m]["dsum2"] == dsum2
    # scores: avar = dsum2 / (2 * n_pairs * m^2) at scale=1
    s = {
        r["m"]: r.asDict()
        for r in allan_scores(
            allan_pieces(df, ["k"], "ts", "v", ms=(4,), tiebreak="eid"),
            scale=1, tau0_s=60.0,
        ).collect()
    }
    nb = n // 4
    sums = [sum(vals[k * 4:(k + 1) * 4]) for k in range(nb)]
    want = sum((sums[k + 1] - sums[k]) ** 2 for k in range(nb - 1)) / (
        2 * (nb - 1) * 16
    )
    assert s[4]["avar"] == pytest.approx(want, rel=1e-12)
    assert s[4]["tau_s"] == pytest.approx(240.0)


def test_allan_white_noise_slope(spark):
    # white noise: AVAR(m) ~ sigma^2/m -> avar(16)/avar(4) ~ 1/4
    import numpy as np

    from c3s_sm_spark.operators.timeseries import allan_pieces, allan_scores

    rng = np.random.default_rng(41)
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(seconds=i), i,
         int(rng.integers(-1000, 1000)))
        for i in range(8192)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v long")
    s = {
        r["m"]: r["avar"]
        for r in allan_scores(
            allan_pieces(df, ["k"], "ts", "v", ms=(4, 16), tiebreak="eid"),
            scale=1,
        ).collect()
    }
    assert s[16] / s[4] == pytest.approx(0.25, rel=0.25)


def test_allan_single_bin_null_and_guard(spark):
    from c3s_sm_spark.operators.timeseries import allan_pieces, allan_scores

    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(minutes=i), i, 5)
        for i in range(5)  # m=4: one complete bin, zero pairs
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid long, v long")
    out = allan_scores(
        allan_pieces(df, ["k"], "ts", "v", ms=(4,), tiebreak="eid"), scale=1
    ).collect()[0]
    assert out["n_bins"] == 1 and out["n_pairs"] == 0 and out["dsum2"] == 0
    assert out["avar"] is None
    with pytest.raises(ValueError):
        allan_pieces(df, ["k"], "ts", "v", ms=(1,))


def test_ccf_pieces_detects_known_lag(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import ccf_pieces
    from c3s_sm_spark.operators.timeseries import validation_scores

    rng = np.random.default_rng(43)
    n = 200
    base = rng.integers(-1000, 1000, n + 10)
    # y_{t+3} tracks x_t: y[t] = base[t-3] + small noise
    x_rows = [(int(t), int(base[t])) for t in range(n)]
    y_rows = [
        (int(t), int(base[t - 3] + rng.integers(-5, 6)))
        for t in range(3, n)
    ]
    x = spark.createDataFrame(x_rows, "t long, v long")
    y = spark.createDataFrame(y_rows, "t long, v long")
    scored = validation_scores(
        ccf_pieces(x, y, [], "t", "v", "v", lags=range(-5, 6)), scale=1
    ).collect()
    best = max(scored, key=lambda r: r["pearson_r"])
    assert best["lag"] == 3
    assert best["pearson_r"] > 0.99


def test_ccf_pieces_brute_force_and_matching(spark):
    from c3s_sm_spark.operators.timeseries import ccf_pieces

    # tiny frames with gaps: verify n_matched and sums per lag by hand
    x = spark.createDataFrame(
        [(0, 10), (1, 20), (3, 30)], "t long, v long"
    )
    y = spark.createDataFrame(
        [(1, 5), (2, 7), (3, 9)], "t long, v long"
    )
    out = {
        r["lag"]: r.asDict()
        for r in ccf_pieces(x, y, [], "t", "v", "v", lags=[0, 1]).collect()
    }
    # lag 0: pairs at t=1 (20,5) and t=3 (30,9)
    assert out[0]["n_matched"] == 2
    assert out[0]["sx"] == 50 and out[0]["sy"] == 14
    assert out[0]["sxy"] == 20 * 5 + 30 * 9
    # lag 1: x_t vs y_{t+1}: t=0 (10,5), t=1 (20,7), missing t=3/y4
    assert out[1]["n_matched"] == 2
    assert out[1]["sx"] == 30 and out[1]["sy"] == 12
    assert out[1]["sxy"] == 10 * 5 + 20 * 7
    # keyed variant groups independently
    xk = spark.createDataFrame(
        [("a", 0, 1), ("a", 1, 2), ("b", 0, 3)], "k string, t long, v long"
    )
    yk = spark.createDataFrame(
        [("a", 0, 4), ("b", 0, 5)], "k string, t long, v long"
    )
    got = {
        (r["k"], r["lag"]): r["n_matched"]
        for r in ccf_pieces(xk, yk, ["k"], "t", "v", "v", lags=[0]).collect()
    }
    assert got == {("a", 0): 1, ("b", 0): 1}
    with pytest.raises(ValueError):
        ccf_pieces(x, y, [], "t", "v", "v", lags=[])


def test_holt_matches_reference_recurrence(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import holt_smooth

    rng = np.random.default_rng(47)
    vals = [float(v) for v in rng.normal(50, 10, 30)]
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = (
        holt_smooth(df, ["k"], "ts", "value", alpha=0.4, beta=0.2)
        .orderBy("ts")
        .collect()
    )

    # reference: plain python Holt recurrence
    a, b = 0.4, 0.2
    lev = [vals[0]]
    tr = [vals[1] - vals[0]]
    for t in range(1, len(vals)):
        l_new = a * vals[t] + (1 - a) * (lev[-1] + tr[-1])
        tr.append(b * (l_new - lev[-1]) + (1 - b) * tr[-1])
        lev.append(l_new)
    for i, r in enumerate(out):
        assert r["holt_level"] == lev[i]  # bit-exact
        assert r["holt_trend"] == tr[i]


def test_holt_tracks_linear_trend(spark):
    from c3s_sm_spark.operators.timeseries import holt_smooth

    # pure line: level converges to the line, trend to the slope
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), 5.0 * i + 2.0)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    last = (
        holt_smooth(df, ["k"], "ts", "value", alpha=0.5, beta=0.3)
        .orderBy("ts")
        .collect()[-1]
    )
    assert last["holt_level"] == pytest.approx(5.0 * 99 + 2.0, rel=1e-6)
    assert last["holt_trend"] == pytest.approx(5.0, rel=1e-6)


def test_holt_partition_invariance_and_edge(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import holt_smooth

    rng = np.random.default_rng(53)
    rows = [
        (f"k{i % 5}", _ts("2024-01-01") + dt.timedelta(hours=i),
         float(rng.normal(0, 1)))
        for i in range(250)
    ]
    # one single-point series: b0 = 0
    rows.append(("solo", _ts("2024-01-01"), 3.5))
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    a = {
        (r["k"], r["ts"]): (r["holt_level"], r["holt_trend"])
        for r in holt_smooth(df, ["k"], "ts", "value", 0.3, 0.1).collect()
    }
    b = {
        (r["k"], r["ts"]): (r["holt_level"], r["holt_trend"])
        for r in holt_smooth(
            df.repartition(11), ["k"], "ts", "value", 0.3, 0.1,
            n_partitions=3,
        ).collect()
    }
    assert a == b  # bit-exact under any partitioning
    assert a[("solo", _ts("2024-01-01"))] == (3.5, 0.0)
    with pytest.raises(ValueError):
        holt_smooth(df, ["k"], "ts", "value", alpha=0.0, beta=0.5)


def test_periodogram_matches_numpy_fft(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        periodogram_pieces,
        periodogram_scores,
    )

    rng = np.random.default_rng(59)
    n, p = 480, 24  # 20 complete daily cycles
    t = np.arange(n)
    sig = 1000 * np.cos(2 * np.pi * t / p + 0.7)
    v = np.rint(sig + rng.normal(0, 50, n)).astype(np.int64)
    df = spark.createDataFrame(
        [("g", int(tt), int(vv)) for tt, vv in zip(t, v)],
        "grp string, t long, v long",
    )
    out = periodogram_scores(
        periodogram_pieces(df, ["grp"], "t", "v", harmonics=((24, 1), (24, 2))),
        scale=1,
    ).collect()
    got = {(r["P"], r["k"]): r["power"] for r in out}
    # numpy reference: |DFT at f=k/P|^2 / n of the mean-centered series
    c = v - v.mean()
    for kk in (1, 2):
        z = (c * np.exp(-2j * np.pi * kk * t / p)).sum()
        want = (abs(z) ** 2) / n
        # fp_scale=1e6 quantization of cos/sin: relative error ~1e-6
        assert got[(24, kk)] == pytest.approx(want, rel=1e-4)
    # the planted k=1 line dominates k=2 by orders of magnitude
    assert got[(24, 1)] > 100 * got[(24, 2)]


def test_periodogram_pieces_exactness_and_guard(spark):
    import math

    from c3s_sm_spark.operators.timeseries import periodogram_pieces

    vals = [3, -1, 4, 1, -5, 9, 2, 6]
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], "grp string, t long, v long"
    )
    r = periodogram_pieces(df, ["grp"], "t", "v", harmonics=((4, 1),)).collect()[0]
    lut_c = [round(10**6 * math.cos(2 * math.pi * i / 4)) for i in range(4)]
    lut_s = [round(-(10**6) * math.sin(2 * math.pi * i / 4)) for i in range(4)]
    assert r["n"] == 8 and r["sv"] == sum(vals)
    assert r["sc"] == sum(v * lut_c[i % 4] for i, v in enumerate(vals))
    assert r["ss"] == sum(v * lut_s[i % 4] for i, v in enumerate(vals))
    assert r["csum"] == 2 * sum(lut_c) and r["ssum"] == 2 * sum(lut_s)
    with pytest.raises(ValueError):
        periodogram_pieces(df, ["grp"], "t", "v", harmonics=((4, 4),))


def test_periodogram_partitioning_invariance(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import periodogram_pieces

    rng = np.random.default_rng(61)
    df = spark.createDataFrame(
        [(f"k{i % 2}", i, int(rng.integers(-100, 100))) for i in range(300)],
        "grp string, t long, v long",
    )
    a = {
        (r["grp"], r["P"], r["k"]): r.asDict()
        for r in periodogram_pieces(df, ["grp"], "t", "v").collect()
    }
    b = {
        (r["grp"], r["P"], r["k"]): r.asDict()
        for r in periodogram_pieces(df.repartition(7), ["grp"], "t", "v").collect()
    }
    assert a == b


def test_periodogram_reserved_key_guard(spark):
    from c3s_sm_spark.operators.timeseries import periodogram_pieces

    df = spark.createDataFrame([("a", 0, 1)], "k string, t long, v long")
    with pytest.raises(ValueError, match="collide"):
        periodogram_pieces(df, ["k"], "t", "v")


def test_rolling_regression_matches_polyfit(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        rolling_regression_pieces,
        rolling_regression_scores,
    )

    rng = np.random.default_rng(67)
    ts = list(range(20))
    vs = [int(v) for v in rng.integers(-100, 100, 20)]
    df = spark.createDataFrame(
        [("g", t, v) for t, v in zip(ts, vs)], "grp string, t long, v long"
    )
    out = {
        r["t"]: r.asDict()
        for r in rolling_regression_scores(
            rolling_regression_pieces(df, ["grp"], "t", "v", 5)
        ).collect()
    }
    for i, t in enumerate(ts):
        lo = max(0, i - 4)
        xw, yw = np.array(ts[lo:i + 1]), np.array(vs[lo:i + 1])
        assert out[t]["rn"] == len(xw)
        assert out[t]["rsx"] == xw.sum() and out[t]["rsy"] == yw.sum()
        assert out[t]["rsxy"] == (xw * yw).sum()
        assert out[t]["rsxx"] == (xw * xw).sum()
        if len(xw) >= 2:
            want = np.polyfit(xw, yw, 1)[0]
            assert out[t]["rslope"] == pytest.approx(want, rel=1e-9)
        else:
            assert out[t]["rslope"] is None
    # guard
    with pytest.raises(ValueError):
        rolling_regression_pieces(df, ["grp"], "t", "v", 1)


def test_rolling_regression_partitioning_invariance(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import rolling_regression_pieces

    rng = np.random.default_rng(71)
    df = spark.createDataFrame(
        [(f"g{i % 3}", i, int(rng.integers(-50, 50))) for i in range(120)],
        "grp string, t long, v long",
    )
    key = lambda r: (r["grp"], r["t"])
    a = {key(r): r.asDict() for r in
         rolling_regression_pieces(df, ["grp"], "t", "v", 7).collect()}
    b = {key(r): r.asDict() for r in
         rolling_regression_pieces(df.repartition(11), ["grp"], "t", "v", 7).collect()}
    assert a == b


def test_block_maxima_lmoment_pieces_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import block_maxima_lmoment_pieces

    rng = np.random.default_rng(73)
    rows = []
    for b in range(12):
        for j in range(8):
            rows.append(("g", b, int(rng.integers(-500, 500))))
    df = spark.createDataFrame(rows, "grp string, blk long, v long")
    out = block_maxima_lmoment_pieces(df, ["grp"], "blk", "v").collect()[0]
    maxima = sorted(
        max(v for g, b, v in rows if b == blk) for blk in range(12)
    )
    n = len(maxima)
    assert out["n"] == n
    assert out["s0"] == sum(maxima)
    assert out["s1"] == sum(i * x for i, x in enumerate(maxima))
    assert out["s2"] == sum(
        i * (i - 1) * x for i, x in enumerate(maxima)
    )


def test_gumbel_return_levels_recover_planted_distribution(spark):
    import math

    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        block_maxima_lmoment_pieces,
        gumbel_return_levels,
    )

    rng = np.random.default_rng(79)
    xi_true, alpha_true = 500.0, 80.0
    n_blocks = 3000
    # one observation per block: the block max IS the Gumbel draw
    draws = np.rint(rng.gumbel(xi_true, alpha_true, n_blocks)).astype(int)
    df = spark.createDataFrame(
        [("g", int(b), int(v)) for b, v in enumerate(draws)],
        "grp string, blk long, v long",
    )
    out = gumbel_return_levels(
        block_maxima_lmoment_pieces(df, ["grp"], "blk", "v"),
        return_periods=(10.0, 100.0),
    ).collect()[0]
    # L-moment fit recovers location/scale within sampling error
    assert out["gumbel_xi"] == pytest.approx(xi_true, rel=0.05)
    assert out["gumbel_alpha"] == pytest.approx(alpha_true, rel=0.08)
    # return level formula: xi - alpha*ln(-ln(1-1/T))
    for t in (10, 100):
        want = out["gumbel_xi"] - out["gumbel_alpha"] * math.log(
            -math.log(1 - 1 / t)
        )
        assert out[f"rl_{t}"] == pytest.approx(want, rel=1e-12)
    # empirical sanity: ~10% of draws exceed the 10-block return level
    frac = (draws > out["rl_10"]).mean()
    assert 0.06 <= frac <= 0.14


def test_gumbel_edge_cases(spark):
    from c3s_sm_spark.operators.timeseries import (
        block_maxima_lmoment_pieces,
        gumbel_return_levels,
    )

    # two blocks only: n < 3 -> all-null fit
    df = spark.createDataFrame(
        [("g", 0, 5), ("g", 1, 9)], "grp string, blk long, v long"
    )
    p = block_maxima_lmoment_pieces(df, ["grp"], "blk", "v")
    out = gumbel_return_levels(p).collect()[0]
    assert out["l1"] is None and out["rl_10"] is None
    with pytest.raises(ValueError):
        gumbel_return_levels(p, return_periods=(1.0,)).collect()


def test_hurst_pieces_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import hurst_rs_pieces

    rng = np.random.default_rng(83)
    vals = [int(v) for v in rng.integers(-100, 100, 37)]  # m=8: 4 blocks
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    out = {
        r["blk"]: r.asDict()
        for r in hurst_rs_pieces(
            df, ["grp"], "ts", "v", ms=(8,), tiebreak="eid"
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3}  # 37 rows -> 4 complete blocks of 8
    for blk in range(4):
        v = np.array(vals[blk * 8:(blk + 1) * 8], dtype=np.int64)
        tot = v.sum()
        my = [8 * v[: i + 1].sum() - (i + 1) * tot for i in range(8)]
        assert out[blk]["rm"] == max(my) - min(my)
        assert out[blk]["sv"] == tot and out[blk]["sv2"] == (v * v).sum()
    with pytest.raises(ValueError):
        hurst_rs_pieces(df, ["grp"], "ts", "v", ms=(2,))


def test_hurst_white_noise_vs_persistent(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        hurst_exponent,
        hurst_rs_pieces,
        hurst_scores,
    )

    rng = np.random.default_rng(89)
    n = 4096
    white = rng.integers(-1000, 1000, n)
    # persistent series: a random walk (integrated noise) has H -> 1
    walk = np.cumsum(rng.integers(-50, 50, n))
    rows = []
    for i in range(n):
        rows.append(("white", _ts("2024-01-01") + dt.timedelta(seconds=i),
                     i, int(white[i])))
        rows.append(("walk", _ts("2024-01-01") + dt.timedelta(seconds=i),
                     i, int(walk[i])))
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    h = {
        r["grp"]: r["hurst"]
        for r in hurst_exponent(
            hurst_scores(
                hurst_rs_pieces(
                    df, ["grp"], "ts", "v", ms=(8, 16, 32, 64),
                    tiebreak="eid",
                ),
                ["grp"],
            ),
            ["grp"],
        ).collect()
    }
    # small-sample R/S biases H upward for white noise; the separation
    # is what matters
    assert 0.40 <= h["white"] <= 0.68
    assert h["walk"] >= 0.85
    assert h["walk"] - h["white"] > 0.2


def test_hurst_partitioning_invariance(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import hurst_rs_pieces

    rng = np.random.default_rng(97)
    rows = [
        (f"g{i % 2}", _ts("2024-01-01") + dt.timedelta(seconds=i), i,
         int(rng.integers(-100, 100)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    key = lambda r: (r["grp"], r["m"], r["blk"])
    a = {key(r): r.asDict() for r in
         hurst_rs_pieces(df, ["grp"], "ts", "v", (8, 16), "eid").collect()}
    b = {key(r): r.asDict() for r in
         hurst_rs_pieces(df.repartition(9), ["grp"], "ts", "v", (8, 16), "eid").collect()}
    assert a == b


def test_seasonal_mann_kendall_sums_per_season_pieces(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        mann_kendall_pieces,
        mann_kendall_scores,
        seasonal_mann_kendall_pieces,
    )

    rng = np.random.default_rng(101)
    rows = []
    for season in range(4):
        for i in range(25):
            rows.append(
                ("g", season,
                 _ts("2024-01-01") + dt.timedelta(hours=season * 1000 + i),
                 season * 100 + i, int(rng.integers(-20, 20)))
            )
    df = spark.createDataFrame(
        rows, "grp string, season long, ts timestamp, eid long, v long"
    )
    out = seasonal_mann_kendall_pieces(
        df, ["grp"], "season", "ts", "v", tiebreak="eid"
    ).collect()[0]
    per = mann_kendall_pieces(
        df, ["grp", "season"], "ts", "v", tiebreak="eid"
    ).collect()
    assert out["n_seasons"] == 4
    for col in ("n", "n_pos", "n_neg", "n_zero", "s", "tie_term", "var18"):
        assert out[col] == sum(r[col] for r in per)
    # scores apply unchanged to the summed pieces
    z = mann_kendall_scores(
        seasonal_mann_kendall_pieces(
            df, ["grp"], "season", "ts", "v", tiebreak="eid"
        )
    ).collect()[0]["z"]
    assert z is not None


def test_seasonal_mk_detrends_pure_cycle(spark):
    # a pure seasonal square wave has a huge plain-MK |S| inflation
    # risk; within-season the series is CONSTANT -> seasonal S = 0
    rows = []
    for d in range(40):
        for season in (0, 1):
            rows.append(
                ("g", season,
                 _ts("2024-01-01") + dt.timedelta(days=d, hours=season),
                 d * 2 + season, 100 if season else -100)
            )
    df = spark.createDataFrame(
        rows, "grp string, season long, ts timestamp, eid long, v long"
    )
    from c3s_sm_spark.operators.timeseries import (
        seasonal_mann_kendall_pieces,
    )

    out = seasonal_mann_kendall_pieces(
        df, ["grp"], "season", "ts", "v", tiebreak="eid"
    ).collect()[0]
    assert out["s"] == 0 and out["var18"] == 0


def test_variogram_scores_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import ccf_pieces, variogram_scores

    rng = np.random.default_rng(103)
    vals = [int(v) for v in rng.integers(-100, 100, 50)]
    df = spark.createDataFrame(
        [(t, v) for t, v in enumerate(vals)], "t long, v long"
    )
    out = {
        r["lag"]: r["gamma"]
        for r in variogram_scores(
            ccf_pieces(df, df, [], "t", "v", "v", lags=[1, 2, 5]), scale=1
        ).collect()
    }
    v = np.array(vals)
    for h in (1, 2, 5):
        want = ((v[h:] - v[:-h]) ** 2).mean() / 2.0
        assert out[h] == pytest.approx(want, rel=1e-12)
    # smooth series: gamma grows with lag; check on a pure line
    line = spark.createDataFrame(
        [(t, 10 * t) for t in range(30)], "t long, v long"
    )
    g = {
        r["lag"]: r["gamma"]
        for r in variogram_scores(
            ccf_pieces(line, line, [], "t", "v", "v", lags=[1, 3]), scale=1
        ).collect()
    }
    assert g[3] > g[1] and g[1] == pytest.approx(50.0)  # (10*1)^2/2


def test_pettitt_pieces_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import pettitt_pieces

    rng = np.random.default_rng(107)
    vals = [int(v) for v in rng.integers(-10, 10, 60)]  # plenty of ties
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    out = pettitt_pieces(df, ["grp"], "ts", "v", tiebreak="eid").collect()[0]
    n = len(vals)
    U = []
    for t in range(1, n):
        U.append(int(sum(
            np.sign(vals[j] - vals[i])
            for i in range(t) for j in range(t, n)
        )))
    k = max(abs(u) for u in U)
    t_split = next(t for t, u in enumerate(U, start=1) if abs(u) == k)
    assert out["n"] == n and out["k_stat"] == k
    assert out["t_split"] == t_split
    assert out["u_at_split"] == U[t_split - 1]


def test_pettitt_locates_planted_step(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        pettitt_pieces,
        pettitt_scores,
    )

    rng = np.random.default_rng(109)
    # level shift at t=120 of a 200-point noisy series
    v = np.concatenate([
        rng.normal(0, 30, 120), rng.normal(150, 30, 80)
    ]).astype(np.int64)
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), i, int(x))
        for i, x in enumerate(v)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    out = pettitt_scores(
        pettitt_pieces(df, ["grp"], "ts", "v", tiebreak="eid")
    ).collect()[0]
    assert 115 <= out["t_split"] <= 125
    assert out["u_at_split"] > 0  # upward step: late > early -> U positive
    assert out["p_value"] < 1e-6
    # a constant series: K = 0, p = min(1, 2) -> 1
    flat = spark.createDataFrame(
        [("f", _ts("2024-01-01") + dt.timedelta(hours=i), i, 5)
         for i in range(20)],
        "grp string, ts timestamp, eid long, v long",
    )
    fo = pettitt_scores(
        pettitt_pieces(flat, ["grp"], "ts", "v", tiebreak="eid")
    ).collect()[0]
    assert fo["k_stat"] == 0 and fo["p_value"] == 1.0


def test_pettitt_single_point_and_invariance(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import pettitt_pieces

    rng = np.random.default_rng(113)
    rows = [("solo", _ts("2024-01-01"), 0, 42)]
    rows += [
        (f"g{i % 3}", _ts("2024-01-01") + dt.timedelta(hours=i), i,
         int(rng.integers(-50, 50)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    a = {r["grp"]: r.asDict() for r in
         pettitt_pieces(df, ["grp"], "ts", "v", tiebreak="eid").collect()}
    assert a["solo"] == {
        "grp": "solo", "n": 1, "k_stat": 0, "t_split": 0, "u_at_split": 0,
    }
    b = {r["grp"]: r.asDict() for r in
         pettitt_pieces(df.repartition(13), ["grp"], "ts", "v",
                        tiebreak="eid").collect()}
    assert a == b


def test_record_stats_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import record_stats_pieces

    rng = np.random.default_rng(127)
    vals = [int(v) for v in rng.integers(-50, 50, 80)]
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    out = record_stats_pieces(df, ["grp"], "ts", "v", tiebreak="eid").collect()[0]
    highs = [
        t + 1 for t, v in enumerate(vals)
        if t == 0 or v > max(vals[:t])
    ]
    lows = [
        t + 1 for t, v in enumerate(vals)
        if t == 0 or v < min(vals[:t])
    ]
    assert out["n"] == 80
    assert out["n_rec_high"] == len(highs)
    assert out["n_rec_low"] == len(lows)
    assert out["t_last_high"] == highs[-1]
    assert out["t_last_low"] == lows[-1]


def test_record_stats_monotone_and_expected(spark):
    import math

    from c3s_sm_spark.operators.timeseries import (
        record_stats_pieces,
        record_stats_scores,
    )

    # strictly increasing: every point is a record high, only the
    # first a record low; excess_high >> 1
    rows = [
        ("up", _ts("2024-01-01") + dt.timedelta(hours=i), i, i * 3)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    out = record_stats_scores(
        record_stats_pieces(df, ["grp"], "ts", "v", tiebreak="eid")
    ).collect()[0]
    assert out["n_rec_high"] == 50 and out["n_rec_low"] == 1
    hn = math.log(50) + 0.5772156649015329 + 1 / 100
    assert out["expected_records"] == pytest.approx(hn, rel=1e-6)
    assert out["excess_high"] == pytest.approx(50 / hn, rel=1e-6)
    # ties are NOT records (strict comparison)
    flat = spark.createDataFrame(
        [("f", _ts("2024-01-01") + dt.timedelta(hours=i), i, 7)
         for i in range(10)],
        "grp string, ts timestamp, eid long, v long",
    )
    fo = record_stats_pieces(flat, ["grp"], "ts", "v", tiebreak="eid").collect()[0]
    assert fo["n_rec_high"] == 1 and fo["n_rec_low"] == 1
    assert fo["t_last_high"] == 1 and fo["t_last_low"] == 1


def test_runs_test_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import runs_test_pieces

    rng = np.random.default_rng(131)
    vals = [int(v) for v in rng.integers(-8, 9, 45)]  # ties + median hits
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    out = runs_test_pieces(df, ["grp"], "ts", "v", tiebreak="eid").collect()[0]
    med = sorted(vals)[(len(vals) + 1) // 2 - 1]  # lower median
    kept = [v for v in vals if v != med]
    signs = [1 if v > med else 0 for v in kept]
    runs = 1 + sum(1 for i in range(1, len(signs)) if signs[i] != signs[i - 1])
    assert out["n"] == len(kept)
    assert out["n_above"] == sum(signs)
    assert out["n_below"] == len(signs) - sum(signs)
    assert out["n_runs"] == runs


def test_runs_test_alternating_vs_clustered(spark):
    from c3s_sm_spark.operators.timeseries import (
        runs_test_pieces,
        runs_test_scores,
    )

    # distinct values (the drop-equals-median rule would otherwise
    # swallow a whole side of a two-valued series)
    # perfectly alternating about zero: maximal runs, z positive
    alt = [(100 + i) if i % 2 else -(100 + i) for i in range(60)]
    # perfectly clustered: 2 runs, z strongly negative
    clu = [-(10 + i) for i in range(30)] + [10 + i for i in range(30)]
    rows = [
        ("alt", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(alt)
    ] + [
        ("clu", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(clu)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, eid long, v long")
    s = {
        r["grp"]: r.asDict()
        for r in runs_test_scores(
            runs_test_pieces(df, ["grp"], "ts", "v", tiebreak="eid")
        ).collect()
    }
    # clustered: the lower median itself (one row) drops, two blocks
    assert s["clu"]["n_runs"] == 2
    assert s["clu"]["z"] < -5 and s["clu"]["p_value"] < 1e-6
    assert s["alt"]["n_runs"] == s["alt"]["n"]  # every kept row a run
    # one-sided degenerate: all values equal the median -> empty kept
    # set produces NO row (groupBy over empty frame)
    flat = spark.createDataFrame(
        [("f", _ts("2024-01-01"), 0, 5), ("f", _ts("2024-01-02"), 1, 5)],
        "grp string, ts timestamp, eid long, v long",
    )
    assert runs_test_pieces(flat, ["grp"], "ts", "v", tiebreak="eid").count() == 0


def test_durbin_watson_brute_force(spark):
    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import (
        durbin_watson_pieces,
        durbin_watson_scores,
    )

    rng = np.random.default_rng(151)
    vals = [int(v) for v in rng.integers(-500, 501, 80)]
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "grp string, ts timestamp, eid long, v long"
    )
    out = durbin_watson_pieces(df, ["grp"], "ts", "v", tiebreak="eid")
    r = out.collect()[0]
    assert r["n"] == len(vals)
    assert r["sum_v"] == sum(vals)
    assert r["sum_v2"] == sum(v * v for v in vals)
    assert r["sum_d2"] == sum(
        (b - a) ** 2 for a, b in zip(vals, vals[1:])
    )
    s = durbin_watson_scores(out).collect()[0]
    v = np.array(vals, dtype=float)
    want = float(np.sum(np.diff(v) ** 2) / np.sum((v - v.mean()) ** 2))
    assert s["dw"] == pytest.approx(want, rel=1e-12)
    assert s["rho1"] == pytest.approx(1 - want / 2, rel=1e-9)


def test_durbin_watson_reads_persistence(spark):
    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        durbin_watson_pieces,
        durbin_watson_scores,
    )

    rng = np.random.default_rng(157)
    # AR(1) rho=0.9 random walk-ish: DW << 2; alternating: DW ~> 3
    ar = [0.0]
    for _ in range(399):
        ar.append(0.9 * ar[-1] + rng.normal(0, 10))
    alt = [(200 + i) * (1 if i % 2 else -1) for i in range(400)]
    rows = [
        ("ar", _ts("2024-01-01") + dt.timedelta(hours=i), i, int(x))
        for i, x in enumerate(ar)
    ] + [
        ("alt", _ts("2024-01-01") + dt.timedelta(hours=i), i, x)
        for i, x in enumerate(alt)
    ]
    df = spark.createDataFrame(
        rows, "grp string, ts timestamp, eid long, v long"
    )
    s = {
        r["grp"]: r.asDict()
        for r in durbin_watson_scores(
            durbin_watson_pieces(df, ["grp"], "ts", "v", tiebreak="eid")
        ).collect()
    }
    assert s["ar"]["dw"] < 1.0 and s["ar"]["rho1"] > 0.5
    assert s["alt"]["dw"] > 3.0 and s["alt"]["rho1"] < -0.5
    # degenerate: constant and single-row series -> null
    deg = spark.createDataFrame(
        [("flat", _ts("2024-01-01") + dt.timedelta(hours=i), i, 5)
         for i in range(10)]
        + [("solo", _ts("2024-01-01"), 0, 1)],
        "grp string, ts timestamp, eid long, v long",
    )
    d = {
        r["grp"]: r.asDict()
        for r in durbin_watson_scores(
            durbin_watson_pieces(deg, ["grp"], "ts", "v", tiebreak="eid")
        ).collect()
    }
    assert d["flat"]["dw"] is None and d["solo"]["dw"] is None
    assert d["flat"]["sum_d2"] == 0 and d["solo"]["sum_d2"] == 0


def test_kruskal_wallis_brute_force_and_shift(spark):
    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import (
        kruskal_wallis_pieces,
        kruskal_wallis_scores,
    )

    rng = np.random.default_rng(163)
    # three groups, heavy ties, one shifted
    ga = [int(v) for v in rng.integers(0, 30, 70)]
    gb = [int(v) for v in rng.integers(0, 30, 50)]
    gc = [int(v) + 15 for v in rng.integers(0, 30, 60)]
    rows = [("a", v) for v in ga] + [("b", v) for v in gb] + [("c", v) for v in gc]
    df = spark.createDataFrame(rows, "g string, v long")
    pieces = {r["g"]: r for r in kruskal_wallis_pieces(df, "g", "v").collect()}

    # brute force: pooled doubled midranks
    pooled = sorted(v for _, v in rows)
    first = {}
    cnt = {}
    for i, v in enumerate(pooled):
        first.setdefault(v, i + 1)
        cnt[v] = cnt.get(v, 0) + 1
    r2 = {v: 2 * first[v] + cnt[v] - 1 for v in cnt}
    for name, vals in [("a", ga), ("b", gb), ("c", gc)]:
        assert pieces[name]["n_g"] == len(vals)
        assert pieces[name]["rs2_g"] == sum(r2[v] for v in vals)
    n_tot = len(pooled)
    tie = sum(c**3 - c for c in cnt.values())
    assert pieces["a"]["n_total"] == n_tot and pieces["a"]["tie_sum"] == tie

    # H against the textbook formula on the same midranks
    s = kruskal_wallis_scores(
        kruskal_wallis_pieces(df, "g", "v"), "g"
    ).collect()[0]
    rs = {g: sum(r2[v] for v in vals) / 2 for g, vals in
          [("a", ga), ("b", gb), ("c", gc)]}
    h_raw = 12.0 / (n_tot * (n_tot + 1)) * sum(
        rs[g] ** 2 / len(vals) for g, vals in
        [("a", ga), ("b", gb), ("c", gc)]
    ) - 3 * (n_tot + 1)
    want = h_raw / (1 - tie / (n_tot**3 - n_tot))
    assert s["k"] == 3 and s["n_total"] == n_tot
    assert s["h_stat"] == pytest.approx(want, rel=1e-12)
    assert s["h_stat"] > 20  # the shifted group screams

    # null case: identical constant groups -> all tied -> null H
    flat = spark.createDataFrame(
        [("a", 7)] * 5 + [("b", 7)] * 5, "g string, v long"
    )
    sf = kruskal_wallis_scores(
        kruskal_wallis_pieces(flat, "g", "v"), "g"
    ).collect()[0]
    assert sf["h_stat"] is None


def test_spearman_brute_force_and_direction(spark):
    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import (
        spearman_pieces,
        spearman_scores,
    )

    def midranks2(vals):
        pooled = sorted(vals)
        first, cnt = {}, {}
        for i, v in enumerate(pooled):
            first.setdefault(v, i + 1)
            cnt[v] = cnt.get(v, 0) + 1
        return [2 * first[v] + cnt[v] - 1 for v in vals]

    rng = np.random.default_rng(167)
    xs = [int(v) for v in rng.integers(0, 40, 80)]  # ties guaranteed
    ys = [x * 3 + int(e) for x, e in zip(xs, rng.integers(-25, 26, 80))]
    df = spark.createDataFrame(
        [("k", x, y) for x, y in zip(xs, ys)], "g string, x long, y long"
    )
    p = spearman_pieces(df, ["g"], "x", "y").collect()[0]
    rx2, ry2 = midranks2(xs), midranks2(ys)
    assert p["n"] == 80
    assert p["sxy2"] == sum(a * b for a, b in zip(rx2, ry2))
    assert p["sxx2"] == sum(a * a for a in rx2)
    assert p["syy2"] == sum(b * b for b in ry2)

    s = spearman_scores(spearman_pieces(df, ["g"], "x", "y")).collect()[0]
    n = 80.0
    s1 = n * (n + 1)
    cov = n * p["sxy2"] - s1 * s1
    want = cov / ((n * p["sxx2"] - s1 * s1) * (n * p["syy2"] - s1 * s1)) ** 0.5
    assert s["rho"] == pytest.approx(want, rel=1e-12)
    assert s["rho"] > 0.8  # strong monotone plant

    # perfect inverse, no ties -> exactly -1
    inv = spark.createDataFrame(
        [("k", i, 100 - i) for i in range(50)], "g string, x long, y long"
    )
    si = spearman_scores(spearman_pieces(inv, ["g"], "x", "y")).collect()[0]
    assert si["rho"] == pytest.approx(-1.0, abs=1e-12)

    # constant margin -> null rho
    const = spark.createDataFrame(
        [("k", i, 5) for i in range(10)], "g string, x long, y long"
    )
    sc = spearman_scores(spearman_pieces(const, ["g"], "x", "y")).collect()[0]
    assert sc["rho"] is None


def test_theil_sen_brute_force(spark):
    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import (
        theil_sen_pieces,
        theil_sen_scores,
    )
    from fractions import Fraction

    rng = np.random.default_rng(173)
    # trend 70/day + heavy outliers that wreck OLS but not Sen
    days = sorted(rng.choice(np.arange(60), size=31, replace=False))
    vals = [int(70 * d + e) for d, e in zip(days, rng.integers(-40, 41, 31))]
    vals[5] += 100000  # outlier
    vals[20] -= 100000
    rows = [
        ("u", _ts("2024-01-01") + dt.timedelta(days=int(d)), v)
        for d, v in zip(days, vals)
    ]
    df = spark.createDataFrame(rows, "user_id string, day timestamp, v4 long")
    out = theil_sen_scores(
        theil_sen_pieces(df, ["user_id"], "day", "v4")
    ).collect()[0]

    # brute force: all pairwise slopes as exact fractions
    pts = list(zip(days, vals))
    slopes = sorted(
        Fraction(v2 - v1, int(d2 - d1))
        for i, (d1, v1) in enumerate(pts)
        for d2, v2 in pts[i + 1:]
    )
    n = len(slopes)
    assert out["n_pairs"] == n
    want = (slopes[(n - 1) // 2] + slopes[n // 2]) / 2
    # selection by double-rounded slope can only differ from the exact-
    # fraction median inside a tie window of the rounding; on this data
    # the orders agree, so the match is exact
    assert out["sen_slope"] == pytest.approx(float(want), rel=1e-12)
    assert 60 < out["sen_slope"] < 80  # outliers did not drag the slope
    # the selected middle pairs are exact integers reproducing the median
    got = (
        Fraction(out["dv_lo"], out["dt_lo"])
        + Fraction(out["dv_hi"], out["dt_hi"])
    ) / 2
    assert got == want

    # even pair count: exactly 2 points -> 1 pair; 3 points -> 3 pairs
    two = spark.createDataFrame(
        [("a", _ts("2024-01-01"), 0), ("a", _ts("2024-01-03"), 10)],
        "user_id string, day timestamp, v4 long",
    )
    r2 = theil_sen_scores(
        theil_sen_pieces(two, ["user_id"], "day", "v4")
    ).collect()[0]
    assert r2["n_pairs"] == 1 and r2["sen_slope"] == pytest.approx(5.0)
    # single point emits nothing (no pairs)
    one = spark.createDataFrame(
        [("a", _ts("2024-01-01"), 0)], "user_id string, day timestamp, v4 long"
    )
    assert theil_sen_pieces(one, ["user_id"], "day", "v4").count() == 0


def test_page_cusum_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.anomaly import page_cusum

    rng = np.random.default_rng(179)
    # flat around 100, then shifted to 160: s_plus must alarm after
    vals = [int(v) for v in rng.integers(80, 121, 40)] + [
        int(v) for v in rng.integers(140, 181, 30)
    ]
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "grp string, ts timestamp, eid long, vm long"
    )
    out = page_cusum(
        df, ["grp"], "ts", "vm", target=100, slack=10, h=200, tiebreak="eid"
    )
    got = {r["eid"]: r for r in out.collect()}

    sp = sm = 0
    first_alarm = None
    for i, v in enumerate(vals):
        sp = max(0, sp + (v - 100 - 10))
        sm = max(0, sm + (100 - v - 10))
        assert got[i]["s_plus"] == sp and got[i]["s_minus"] == sm
        want_alarm = 1 if (sp > 200 or sm > 200) else 0
        assert got[i]["alarm"] == want_alarm
        if want_alarm and first_alarm is None:
            first_alarm = i
    # the shift at index 40 is caught shortly after, never before
    assert first_alarm is not None and 40 <= first_alarm <= 50


def test_page_cusum_downward_and_plan(spark):
    from c3s_sm_spark.operators.anomaly import page_cusum

    vals = [100] * 20 + [40] * 15  # downward shift -> s_minus alarms
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "grp string, ts timestamp, eid long, vm long"
    )
    out = page_cusum(
        df, ["grp"], "ts", "vm", target=100, slack=5, h=100, tiebreak="eid"
    )
    rs = {r["eid"]: r for r in out.collect()}
    assert rs[19]["alarm"] == 0 and rs[34]["alarm"] == 1
    assert rs[34]["s_minus"] > 100 and rs[34]["s_plus"] == 0
    # plan: single exchange serves both window passes (no second shuffle)
    txt = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    ).split("== Initial Plan ==")[0]  # AQE echoes the pre-final plan too
    assert txt.count("Exchange (") == 1 and "Join" not in txt


def test_ljung_box_white_vs_ar(spark):
    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import ccf_pieces, ljung_box_scores

    rng = np.random.default_rng(181)
    wn = [int(v) for v in rng.integers(-500, 501, 300)]
    ar = [0.0]
    for _ in range(299):
        ar.append(0.85 * ar[-1] + rng.normal(0, 100))
    rows = [("wn", t, v) for t, v in enumerate(wn)] + [
        ("ar", t, int(v)) for t, v in enumerate(ar)
    ]
    df = spark.createDataFrame(rows, "grp string, t long, v long")
    pieces = ccf_pieces(df, df, ["grp"], "t", "v", "v", lags=range(1, 8))
    out = {r["grp"]: r for r in ljung_box_scores(pieces, ["grp"]).collect()}
    assert out["wn"]["n_lags"] == 7 and out["wn"]["n_est"] == 300
    # white noise: Q ~ chi2(7), P(Q > 30) ~ 1e-4; AR(0.85): Q explodes
    assert out["wn"]["q_stat"] < 30
    assert out["ar"]["q_stat"] > 300

    # brute-force check of Q on the white-noise series
    v = np.array(wn, dtype=float)
    n = len(v)
    q = 0.0
    for lag in range(1, 8):
        x, y = v[lag:], v[:-lag]
        nm = len(x)
        num = nm * (x * y).sum() - x.sum() * y.sum()
        den = ((nm * (x * x).sum() - x.sum() ** 2)
               * (nm * (y * y).sum() - y.sum() ** 2)) ** 0.5
        rho = num / den
        q += rho * rho / (n - lag)
    q *= n * (n + 2)
    assert out["wn"]["q_stat"] == pytest.approx(q, rel=1e-9)

    # degenerate: constant series -> null Q
    flat = spark.createDataFrame(
        [("f", t, 5) for t in range(50)], "grp string, t long, v long"
    )
    fp = ccf_pieces(flat, flat, ["grp"], "t", "v", "v", lags=range(1, 4))
    assert ljung_box_scores(fp, ["grp"]).collect()[0]["q_stat"] is None


def test_swi_filter_brute_force_and_limits(spark):
    import math

    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import swi_filter

    rng = np.random.default_rng(191)
    # irregular sampling: some gaps of several days
    ts = [0]
    for _ in range(59):
        ts.append(ts[-1] + int(rng.integers(1, 5)))
    vals = [float(v) for v in rng.uniform(0, 50, 60)]
    rows = [
        ("g", _ts("2024-01-01") + dt.timedelta(days=t), v)
        for t, v in zip(ts, vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        str(r["ts"]): (r["swi"], r["swi_gain"])
        for r in swi_filter(df, ["k"], "ts", "v", ctime_days=5.0).collect()
    }
    # brute force
    s = k = last = None
    for t, v in zip(ts, vals):
        if s is None:
            s, k = v, 1.0
        else:
            e = math.exp(-(t - last) / 5.0)
            k = k / (k + e)
            s = s + k * (v - s)
        last = t
        key = str(dt.datetime(2024, 1, 1) + dt.timedelta(days=t))
        assert out[key][0] == pytest.approx(s, rel=1e-12)
        assert out[key][1] == pytest.approx(k, rel=1e-12)

    # T -> inf: K_n = 1/n exactly -> SWI is the running mean
    big = swi_filter(df, ["k"], "ts", "v", ctime_days=1e12)
    got = [
        (r["swi"], r["swi_gain"])
        for r in big.orderBy("ts").collect()
    ]
    for n, (sv, kv) in enumerate(got, 1):
        assert sv == pytest.approx(sum(vals[:n]) / n, rel=1e-9)
        assert kv == pytest.approx(1.0 / n, rel=1e-9)

    # T -> 0: tracks the raw series (K = 1)
    small = swi_filter(df, ["k"], "ts", "v", ctime_days=1e-6)
    for r, v in zip(small.orderBy("ts").collect(), vals):
        assert r["swi"] == pytest.approx(v, rel=1e-12)

    # nulls pass through without advancing the filter
    withnull = spark.createDataFrame(
        [
            ("g", _ts("2024-01-01"), 10.0),
            ("g", _ts("2024-01-02"), None),
            ("g", _ts("2024-01-03"), 20.0),
        ],
        "k string, ts timestamp, v double",
    )
    rs = swi_filter(withnull, ["k"], "ts", "v", ctime_days=5.0).orderBy("ts").collect()
    assert rs[1]["swi"] is None
    # the day-3 gap is 2 days (spanning the null), not 1
    e = math.exp(-2.0 / 5.0)
    k = 1.0 / (1.0 + e)
    assert rs[2]["swi"] == pytest.approx(10.0 + k * 10.0, rel=1e-12)


def test_cvm_pieces_brute_force(spark):
    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import cvm_pieces, cvm_scores

    rng = np.random.default_rng(197)
    # heavy ties: small integer domain; B shifted
    a = [int(v) for v in rng.integers(0, 25, 90)]
    b = [int(v) + 6 for v in rng.integers(0, 25, 70)]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("z", 0)]
    df = spark.createDataFrame(rows, "g string, v long")
    p = cvm_pieces(df, "g", "v", "a", "b").collect()[0]

    # brute force over distinct values: c_v * (inc_a*m - inc_b*n)^2
    n, m = len(a), len(b)
    want = 0
    for v in sorted(set(a + b)):
        inc_a = sum(1 for x in a if x <= v)
        inc_b = sum(1 for x in b if x <= v)
        c = sum(1 for x in a + b if x == v)
        want += c * (inc_a * m - inc_b * n) ** 2
    assert p["n_a"] == n and p["n_b"] == m
    assert p["sum_cd2"] == want

    s = cvm_scores(cvm_pieces(df, "g", "v", "a", "b")).collect()[0]
    want_t = want / (n * m * (n + m) ** 2)
    assert s["t_stat"] == pytest.approx(want_t, rel=1e-12)
    assert s["t_stat"] > 0.46  # the shift rejects at 5%

    # same-distribution control: T small (typical ~1/6; a fresh seed —
    # the original rng's next draws happened to land a genuine 0.005-
    # probability divergence, which is the statistic working, not a bug)
    rng2 = np.random.default_rng(211)
    c1 = [int(v) for v in rng2.integers(0, 25, 80)]
    c2 = [int(v) for v in rng2.integers(0, 25, 80)]
    ctrl = spark.createDataFrame(
        [("a", v) for v in c1] + [("b", v) for v in c2], "g string, v long"
    )
    sc = cvm_scores(cvm_pieces(ctrl, "g", "v", "a", "b")).collect()[0]
    assert sc["t_stat"] < 0.46
    try:
        from scipy.stats import cramervonmises_2samp
    except ImportError:
        pass
    else:
        ref = cramervonmises_2samp(a, b, method="asymptotic")
        assert s["t_stat"] == pytest.approx(ref.statistic, rel=1e-9)


def test_kendall_pieces_brute_force(spark):
    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import kendall_pieces, kendall_scores

    rng = np.random.default_rng(229)
    xs = [int(v) for v in rng.integers(0, 20, 70)]  # heavy ties
    ys = [x * 2 + int(e) for x, e in zip(xs, rng.integers(-8, 9, 70))]
    df = spark.createDataFrame(
        [("k", x, y) for x, y in zip(xs, ys)], "g string, x long, y long"
    )
    p = kendall_pieces(df, ["g"], "x", "y").collect()[0]

    n = len(xs)
    s = sum(
        int(np.sign(xs[j] - xs[i])) * int(np.sign(ys[j] - ys[i]))
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tx = sum(c * (c - 1) // 2 for c in Counter(xs).values())
    ty = sum(c * (c - 1) // 2 for c in Counter(ys).values())
    assert (p["n"], p["s"], p["tx"], p["ty"]) == (n, s, tx, ty)

    sc = kendall_scores(kendall_pieces(df, ["g"], "x", "y")).collect()[0]
    n0 = n * (n - 1) / 2
    want = s / ((n0 - tx) * (n0 - ty)) ** 0.5
    assert sc["tau_b"] == pytest.approx(want, rel=1e-12)
    assert sc["tau_b"] > 0.6  # monotone plant

    # perfect inverse without ties -> exactly -1
    inv = spark.createDataFrame(
        [("k", i, 100 - i) for i in range(40)], "g string, x long, y long"
    )
    si = kendall_scores(kendall_pieces(inv, ["g"], "x", "y")).collect()[0]
    assert si["tau_b"] == pytest.approx(-1.0, abs=1e-12)
    # fully tied margin -> null
    flat = spark.createDataFrame(
        [("k", 7, i) for i in range(10)], "g string, x long, y long"
    )
    sf = kendall_scores(kendall_pieces(flat, ["g"], "x", "y")).collect()[0]
    assert sf["tau_b"] is None and sf["s"] == 0


def test_qq_shift_brute_force(spark):
    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import qq_shift_pieces

    rng = np.random.default_rng(233)
    a = [int(v) for v in rng.integers(0, 100, 83)]  # awkward sizes
    b = [int(v) + 30 for v in rng.integers(0, 100, 57)]
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b] + [("z", -1)],
        "g string, v long",
    )
    out = {r["q"]: r for r in
           qq_shift_pieces(df, "g", "v", "a", "b").collect()}
    sa, sb = sorted(a), sorted(b)
    assert len(out) == 9
    for q in range(1, 10):
        ka = -(-q * len(a) // 10)  # ceil
        kb = -(-q * len(b) // 10)
        r = out[q]
        assert (r["k_a"], r["k_b"]) == (ka, kb)
        assert r["q_a"] == sa[ka - 1]
        assert r["q_b"] == sb[kb - 1]
        assert r["shift"] == sb[kb - 1] - sa[ka - 1]
    # the planted +30 shift shows up across deciles
    assert all(out[q]["shift"] >= 10 for q in range(2, 9))

    with pytest.raises(ValueError):
        qq_shift_pieces(df, "g", "v", "a", "b", n_quantiles=1)


def _dtw_ref(A, B, radius=None):
    INF = float("inf")
    n, m = len(A), len(B)
    w = n + m if radius is None else max(radius, abs(n - m))
    dp = [[INF] * m for _ in range(n)]
    for i in range(n):
        for j in range(m):
            if abs(i - j) > w:
                continue
            c = abs(A[i] - B[j])
            if i == 0 and j == 0:
                dp[i][j] = c
            else:
                best = min(
                    dp[i - 1][j] if i > 0 else INF,
                    dp[i][j - 1] if j > 0 else INF,
                    dp[i - 1][j - 1] if i > 0 and j > 0 else INF,
                )
                if best < INF:
                    dp[i][j] = c + best
    return dp[n - 1][m - 1], w


def test_dtw_brute_force(spark):
    import datetime as dt

    import numpy as np

    from c3s_sm_spark.operators.timeseries import dtw_distances

    rng = np.random.default_rng(164)
    base = dt.datetime(2024, 1, 1)
    rows = []
    series = {}
    # uneven lengths (17..60) force w = max(radius, |n-m|) feasibility
    for k in range(6):
        vals = [int(v) for v in rng.integers(-500, 500, 17 + 9 * k)]
        series[k] = vals
        rows += [
            (k, base + dt.timedelta(days=i), v) for i, v in enumerate(vals)
        ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    pairs = spark.createDataFrame(
        [(a, b) for a in series for b in series if a <= b],
        "key_a long, key_b long",
    )
    for radius in (2, None):
        got = {
            (r["key_a"], r["key_b"]): (r["n_a"], r["n_b"], r["band"], r["dtw"])
            for r in dtw_distances(
                df, "k", "ts", "v", pairs, radius=radius
            ).collect()
        }
        assert len(got) == 21
        for (a, b), (na, nb, w, dist) in got.items():
            ref, wref = _dtw_ref(series[a], series[b], radius)
            assert (na, nb) == (len(series[a]), len(series[b]))
            assert w == wref and dist == ref, (a, b, radius)
    # identity: dtw(x, x) == 0 under any band
    assert all(got[(k, k)][3] == 0 for k in series)
    # warp-invariance: a stuttered copy of the same shape has dtw 0
    stut = []
    for i, v in enumerate(series[0]):
        stut += [(10, base + dt.timedelta(days=2 * i), v),
                 (10, base + dt.timedelta(days=2 * i + 1), v)]
    df2 = spark.createDataFrame(
        rows + stut, "k long, ts timestamp, v long"
    )
    p2 = spark.createDataFrame([(0, 10)], "key_a long, key_b long")
    r2 = dtw_distances(df2, "k", "ts", "v", p2).collect()[0]
    assert r2["dtw"] == 0 and r2["n_b"] == 2 * r2["n_a"]


def test_matrix_profile_brute_force(spark):
    import datetime as dt

    import numpy as np

    from c3s_sm_spark.operators.timeseries import matrix_profile_sad

    rng = np.random.default_rng(166)
    base = dt.datetime(2024, 1, 1)
    rows = []
    series = {}
    for k in range(4):
        v = [int(x) for x in rng.integers(-100, 100, 30 + 5 * k)]
        v[20:27] = v[3:10]  # plant a motif
        series[k] = v
        rows += [
            (k, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    # a too-short series must emit nothing, not crash
    rows += [(99, base, 1), (99, base + dt.timedelta(days=1), 2)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    out = matrix_profile_sad(df, ["k"], "ts", "v", window=7)
    got = {
        (r["k"], r["idx"]): (r["mp"], r["mp_idx"]) for r in out.collect()
    }
    m, excl = 7, 3
    exp = {}
    for k, v in series.items():
        a = np.asarray(v, dtype=np.int64)
        ns = len(a) - m + 1
        for i in range(ns):
            best, bj = None, -1
            for j in range(ns):
                if abs(i - j) <= excl:
                    continue
                sad = int(np.abs(a[i:i + m] - a[j:j + m]).sum())
                if best is None or sad < best:  # first win = smallest j
                    best, bj = sad, j
            exp[(k, i)] = (best, bj)
    assert got == exp
    assert not any(k == 99 for k, _ in got)
    # the planted motif: windows 3 and 20 are mutual nearest neighbors
    assert got[(0, 3)] == (0, 20) and got[(0, 20)] == (0, 3)
    # parallelism invariance
    got2 = {
        (r["k"], r["idx"]): (r["mp"], r["mp_idx"])
        for r in matrix_profile_sad(
            df.repartition(13), ["k"], "ts", "v", window=7, n_partitions=3
        ).collect()
    }
    assert got2 == got


def test_binseg_changepoints_brute_force(spark):
    import datetime as dt

    import numpy as np

    from c3s_sm_spark.operators.timeseries import binseg_changepoints

    rng = np.random.default_rng(168)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for k in range(5):
        v = (
            [int(x) for x in rng.integers(0, 40, 30)]
            + [int(x) for x in rng.integers(200, 240, 25)]
            + ([int(x) for x in rng.integers(500, 540, 20)]
               if k % 2 == 0 else [])
        )
        series[k] = v
        rows += [
            (k, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    # a series too short to split must emit nothing
    rows += [(99, base + dt.timedelta(days=i), i) for i in range(8)]
    series[99] = list(range(8))
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    out = binseg_changepoints(
        df, ["k"], "ts", "v", max_changes=3, min_size=5
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["k"], []).append(
            (r["cp_rank"], r["idx"], r["score"])
        )
    for k in got:
        got[k].sort()

    def ref(v, mc=3, ms=5):
        pre = [0]
        for x in v:
            pre.append(pre[-1] + x)

        def best(a, b):
            cands = [
                (abs((b - a) * (pre[t] - pre[a])
                     - (t - a) * (pre[b] - pre[a])), -t)
                for t in range(a + ms, b - ms + 1)
            ]
            if not cands:
                return None
            sc, nt = max(cands)
            return (sc, -nt) if sc > 0 else None

        segs = [(0, len(v))]
        found = []
        for _ in range(mc):
            cands = []
            for si, (a, b) in enumerate(segs):
                r = best(a, b)
                if r:
                    cands.append((r[0], -si, r[1], si))
            if not cands:
                break
            sc, _, t, si = max(cands)
            a, b = segs[si]
            segs[si:si + 1] = [(a, t), (t, b)]
            found.append((t, sc))
        return [(i + 1, t, sc) for i, (t, sc) in enumerate(found)]

    for k, v in series.items():
        assert got.get(k, []) == sorted(ref(v)), k
    # ref(len-8 series, min_size=5) admits no split
    assert 99 not in got
    # the planted level shifts are recovered
    for k in (0, 2, 4):
        idxs = {t for _, t, _ in got[k]}
        assert any(abs(t - 30) <= 1 for t in idxs)
        assert any(abs(t - 55) <= 1 for t in idxs)
    # parallelism invariance
    got2 = {}
    for r in binseg_changepoints(
        df.repartition(11), ["k"], "ts", "v",
        max_changes=3, min_size=5, n_partitions=2,
    ).collect():
        got2.setdefault(r["k"], []).append(
            (r["cp_rank"], r["idx"], r["score"])
        )
    for k in got2:
        got2[k].sort()
    assert got2 == got


def test_holt_winters_seasonal_reference(spark):
    import datetime as dt

    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import holt_winters_seasonal

    rng = np.random.default_rng(169)
    base = dt.datetime(2024, 1, 1)
    m = 7
    rows, series = [], {}
    for k in range(3):
        n = 5 * m + k  # ragged lengths
        season = [float(20.0 * np.sin(2 * np.pi * i / m)) for i in range(m)]
        v = [
            float(100.0 + 0.5 * t + season[t % m] + rng.normal(0, 2))
            for t in range(n)
        ]
        series[k] = v
        rows += [
            (k, base + dt.timedelta(days=t), x) for t, x in enumerate(v)
        ]
    rows += [(99, base + dt.timedelta(days=t), 1.0) for t in range(m)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = holt_winters_seasonal(
        df, ["k"], "ts", "v", period=m, alpha=0.3, beta=0.1, gamma=0.2
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["k"], []).append(
            (r["ts"], r["hw_level"], r["hw_trend"], r["hw_season"],
             r["hw_fitted"])
        )
    for k in got:
        got[k].sort()
    assert 99 not in got  # < 2 seasons -> dropped, not silently fit

    a, b, g = 0.3, 0.1, 0.2
    for k, v in series.items():
        m1 = sum(v[:m]) / m
        m2 = sum(v[m:2 * m]) / m
        l_prev, b_prev = m1, (m2 - m1) / m
        s_hist = [x - m1 for x in v[:m]]
        exp = []
        for t, x in enumerate(v):
            s_m = s_hist[t % m]
            fit = l_prev + b_prev + s_m if t >= m else l_prev + s_m
            if t < m:
                exp.append((l_prev, b_prev, s_m, fit))
                continue
            l_t = a * (x - s_m) + (1 - a) * (l_prev + b_prev)
            b_t = b * (l_t - l_prev) + (1 - b) * b_prev
            s_t = g * (x - l_t) + (1 - g) * s_m
            exp.append((l_t, b_t, s_t, fit))
            s_hist[t % m] = s_t
            l_prev, b_prev = l_t, b_t
        rowsk = got[k]
        assert len(rowsk) == len(v)
        for (ts, lv, tr, se, fi), (el, eb, es, ef) in zip(rowsk, exp):
            assert lv == pytest.approx(el, rel=1e-12)
            assert tr == pytest.approx(eb, rel=1e-12)
            assert se == pytest.approx(es, rel=1e-12, abs=1e-9)
            assert fi == pytest.approx(ef, rel=1e-12)
        # the smoother tracks the planted trend+season: in-sample
        # one-step error is far below the seasonal amplitude
        errs = [abs(fi - x) for (_, _, _, _, fi), x in
                zip(rowsk[m:], v[m:])]
        assert sum(errs) / len(errs) < 8.0

    with pytest.raises(ValueError):
        holt_winters_seasonal(df, ["k"], "ts", "v", period=1)
    with pytest.raises(ValueError):
        holt_winters_seasonal(df, ["k"], "ts", "v", period=7, alpha=0.0)


def test_isotonic_blocks_brute_force(spark):
    import datetime as dt
    from fractions import Fraction

    import numpy as np

    from c3s_sm_spark.operators.timeseries import isotonic_blocks

    rng = np.random.default_rng(170)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for k in range(4):
        v = [int(x) for x in np.cumsum(rng.integers(-30, 40, 40 + k))]
        series[k] = v
        rows += [
            (k, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    # planted: strictly decreasing series pools into ONE block
    series[9] = [50, 40, 30, 20, 10]
    rows += [
        (9, base + dt.timedelta(days=i), x)
        for i, x in enumerate(series[9])
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    got = {}
    for r in isotonic_blocks(df, ["k"], "ts", "v").collect():
        got.setdefault(r["k"], []).append(
            (r["blk_idx"], r["start_idx"], r["end_idx"],
             r["blk_sum"], r["blk_n"])
        )
    for k in got:
        got[k].sort()

    def pava_ref(v):
        blocks = []
        for i, x in enumerate(v):
            blocks.append([x, 1, i])
            while len(blocks) >= 2 and Fraction(
                blocks[-2][0], blocks[-2][1]
            ) > Fraction(blocks[-1][0], blocks[-1][1]):
                s2, n2, _ = blocks.pop()
                blocks[-1][0] += s2
                blocks[-1][1] += n2
        out = []
        for bi, (s, n, st) in enumerate(blocks):
            nx = (blocks[bi + 1][2] - 1 if bi + 1 < len(blocks)
                  else len(v) - 1)
            out.append((bi, st, nx, s, n))
        return out

    for k, v in series.items():
        assert got[k] == pava_ref(v), k
        means = [Fraction(s, n) for _, _, _, s, n in got[k]]
        assert all(a <= b for a, b in zip(means, means[1:]))
        assert sum(n for *_, n in got[k]) == len(v)
    assert got[9] == [(0, 0, 4, 150, 5)]
    # parallelism invariance
    got2 = {}
    for r in isotonic_blocks(
        df.repartition(7), ["k"], "ts", "v", n_partitions=3
    ).collect():
        got2.setdefault(r["k"], []).append(
            (r["blk_idx"], r["start_idx"], r["end_idx"],
             r["blk_sum"], r["blk_n"])
        )
    for k in got2:
        got2[k].sort()
    assert got2 == got


def test_dickey_fuller_vs_numpy_ols(spark):
    import datetime as dt

    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import (
        dickey_fuller_pieces,
        dickey_fuller_scores,
    )

    rng = np.random.default_rng(171)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    # k=0: random walk (unit root, t near 0); k=1: strongly
    # mean-reverting AR(1) (t very negative)
    walk = np.cumsum(rng.integers(-50, 51, 80))
    ar = [0.0]
    for _ in range(79):
        ar.append(0.2 * ar[-1] + float(rng.normal(0, 30)))
    series[0] = [int(x) for x in walk]
    series[1] = [int(round(x)) for x in ar]
    for k, v in series.items():
        rows += [
            (k, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    rows += [(9, base, 7)]  # single-point key: must drop, not n=0
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    out = {
        r["k"]: r
        for r in dickey_fuller_scores(
            dickey_fuller_pieces(df, ["k"], "ts", "v")
        ).collect()
    }
    assert 9 not in out
    for k, v in series.items():
        y = np.asarray(v, dtype=float)
        y1, dy = y[:-1], np.diff(y)
        X = np.column_stack([np.ones_like(y1), y1])
        beta, *_ = np.linalg.lstsq(X, dy, rcond=None)
        gamma = float(beta[1])
        resid = dy - X @ beta
        s2 = float(resid @ resid) / (len(dy) - 2)
        se = float(
            np.sqrt(s2 / ((y1 - y1.mean()) @ (y1 - y1.mean())))
        )
        r = out[k]
        assert r["n"] == len(dy)
        assert r["gamma"] == pytest.approx(gamma, rel=1e-9)
        assert r["t_stat"] == pytest.approx(gamma / se, rel=1e-7)
    # the planted regimes separate cleanly: the random walk keeps the
    # unit root, the AR(0.2) rejects it hard
    assert out[0]["t_stat"] > -2.86
    assert out[1]["t_stat"] < -4


def test_lb_keogh_bounds_dtw(spark):
    import datetime as dt

    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        dtw_distances,
        dtw_lb_keogh,
    )

    rng = np.random.default_rng(172)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for k in range(6):
        v = [int(x) for x in rng.integers(-500, 500, 20 + 8 * k)]
        if k == 5:  # level-shifted: the envelope bound must see it
            v = [x + 50000 for x in v]
        series[k] = v
        rows += [
            (k, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    pairs = spark.createDataFrame(
        [(a, b) for a in series for b in series if a != b],
        "key_a long, key_b long",
    )
    lb = {
        (r["key_a"], r["key_b"]): (r["band"], r["lb"])
        for r in dtw_lb_keogh(
            df, "k", "ts", "v", pairs, radius=3
        ).collect()
    }
    dd = {
        (r["key_a"], r["key_b"]): (r["band"], r["dtw"])
        for r in dtw_distances(
            df, "k", "ts", "v", pairs, radius=3
        ).collect()
    }
    assert len(lb) == len(dd) == 30
    # THE invariant: same band, lb never exceeds the exact distance
    for p in lb:
        assert lb[p][0] == dd[p][0]
        assert lb[p][1] <= dd[p][1], p
    # brute-force envelope reference
    for (a, b), (w, val) in lb.items():
        A, B = series[a], series[b]
        n, m = len(A), len(B)
        ww = max(3, abs(n - m))
        tot = 0
        for i, x in enumerate(A):
            seg = B[max(0, i - ww):min(m, i + ww + 1)]
            tot += max(0, x - max(seg), min(seg) - x)
        assert (ww, tot) == (w, val), (a, b)
    # the bound is non-trivial: every pair against the level-shifted
    # series 5 shows a large positive bound (so a threshold filter
    # would prune them all without running the DP)
    for p, (_, val) in lb.items():
        if 5 in p:
            assert val > 100_000, p
        else:
            assert val < 100_000, p


def test_conformal_pieces_reference(spark):
    import datetime as dt

    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import conformal_pieces

    rng = np.random.default_rng(173)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for g in range(5):
        v = [int(x) for x in rng.integers(-500, 500, 15 + 9 * g)]
        series[g] = v
        rows += [
            (g, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    rows += [(99, base + dt.timedelta(days=i), i) for i in range(7)]
    df = spark.createDataFrame(rows, "g long, ts timestamp, v long")
    out = {
        r["g"]: r
        for r in conformal_pieces(
            df, ["g"], "ts", "v", season_lag=7, alpha=0.2
        ).collect()
    }
    assert 99 not in out  # no lag-7 residuals at all
    for g, v in series.items():
        r = [abs(v[t] - v[t - 7]) for t in range(7, len(v))]
        n = len(r)
        kk = min(n, -(-8 * (n + 1) // 10))
        q = sorted(r)[kk - 1]
        cov = sum(1 for x in r if x <= q)
        gg = out[g]
        assert (
            gg["n_resid"], gg["k"], gg["q_hat"], gg["n_covered"]
        ) == (n, kk, q, cov), g
        # finite-sample conformal guarantee witness
        assert gg["n_covered"] >= gg["k"]
    with pytest.raises(ValueError):
        conformal_pieces(df, ["g"], "ts", "v", alpha=1.5)


def test_croston_reference(spark):
    import datetime as dt

    import pytest

    from c3s_sm_spark.operators.timeseries import croston_smooth

    base = dt.datetime(2024, 1, 1)
    series = {
        1: [0, 0, 5, 0, 0, 0, 3, 0, 2, 0, 0, 4],
        2: [7, 7, 7, 7],          # dense: reduces to plain EWMA, p=1
        3: [0, 0, 0],             # never demands: all NULL
    }
    rows = [
        (k, base + dt.timedelta(days=i), float(x))
        for k, v in series.items()
        for i, x in enumerate(v)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = {}
    for r in croston_smooth(df, ["k"], "ts", "v", alpha=0.2).collect():
        out.setdefault(r["k"], []).append(
            (r["ts"], r["cr_size"], r["cr_interval"], r["cr_forecast"])
        )
    for k in out:
        out[k].sort()
    a = 0.2
    for k, v in series.items():
        z = p = None
        q = 0
        exp = []
        for x in v:
            q += 1
            if x > 0:
                if z is None:
                    z, p = float(x), float(q)
                else:
                    z = a * x + (1 - a) * z
                    p = a * q + (1 - a) * p
                q = 0
            exp.append(
                (z, p, None if z is None else z / p)
            )
        got = out[k]
        assert len(got) == len(v)
        for (_, gz, gp, gf), (ez, ep, ef) in zip(got, exp):
            if ez is None:
                assert (gz, gp, gf) == (None, None, None)
            else:
                assert gz == pytest.approx(ez, rel=1e-12)
                assert gp == pytest.approx(ep, rel=1e-12)
                assert gf == pytest.approx(ef, rel=1e-12)
    # dense series: interval settles at 1, forecast tracks EWMA of sizes
    assert out[2][-1][2] == pytest.approx(1.0)
    with pytest.raises(ValueError):
        croston_smooth(df, ["k"], "ts", "v", alpha=0.0)
    # negative demand raises inside the kernel
    neg = spark.createDataFrame(
        [(1, base, -1.0)], "k long, ts timestamp, v double"
    )
    with pytest.raises(Exception, match="negative or NaN demand"):
        croston_smooth(neg, ["k"], "ts", "v").collect()
    # NaN demand raises too (ADVICE r4: it used to pass both the x<0
    # and x>0 checks and silently count as a zero-demand period)
    nan_df = spark.createDataFrame(
        [(1, base, 2.0), (1, base + dt.timedelta(days=1), float("nan"))],
        "k long, ts timestamp, v double",
    )
    with pytest.raises(Exception, match="negative or NaN demand"):
        croston_smooth(nan_df, ["k"], "ts", "v").collect()


def test_adf_vs_numpy_ols(spark):
    import datetime as dt

    import numpy as np
    import numpy.linalg as la
    import pytest

    from c3s_sm_spark.operators.timeseries import adf_pieces, adf_scores

    rng = np.random.default_rng(175)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    walk = np.cumsum(rng.integers(-50, 51, 90))
    ar = [0.0]
    for _ in range(89):
        ar.append(0.3 * ar[-1] + float(rng.normal(0, 40)))
    series[0] = [int(x) for x in walk]
    series[1] = [int(round(x)) for x in ar]
    for k, v in series.items():
        rows += [
            (k, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    rows += [(9, base, 1), (9, base + dt.timedelta(days=1), 2)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    out = {
        r["k"]: r
        for r in adf_scores(adf_pieces(df, ["k"], "ts", "v")).collect()
    }
    assert 9 not in out  # needs >= 3 observations to form one row
    for k, v in series.items():
        y = np.asarray(v, float)
        z = np.diff(y)
        Z, Y1, D = z[1:], y[1:-1], z[:-1]
        X = np.column_stack([np.ones_like(Y1), Y1, D])
        beta, *_ = la.lstsq(X, Z, rcond=None)
        resid = Z - X @ beta
        s2 = float(resid @ resid) / (len(Z) - 3)
        se_g = float(np.sqrt(s2 * la.inv(X.T @ X)[1, 1]))
        r = out[k]
        assert r["n"] == len(Z)
        assert r["gamma"] == pytest.approx(float(beta[1]), rel=1e-9)
        assert r["phi"] == pytest.approx(float(beta[2]), rel=1e-9)
        assert r["t_stat"] == pytest.approx(
            float(beta[1]) / se_g, rel=1e-7
        )
    # regimes separate: random walk keeps the unit root, AR rejects
    assert out[0]["t_stat"] > -2.86
    assert out[1]["t_stat"] < -4


def test_pelt_optimality(spark):
    import datetime as dt
    from fractions import Fraction
    from itertools import combinations

    import numpy as np

    from c3s_sm_spark.operators.timeseries import (
        binseg_changepoints,
        pelt_changepoints,
    )

    rng = np.random.default_rng(176)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for k in range(4):  # short: exhaustive-checkable
        v = [int(x) for x in rng.integers(0, 30, 10)]
        if k % 2 == 0:
            v = v[:5] + [x + 200 for x in v[5:]]
        series[k] = v
        rows += [
            (k, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    for k in range(10, 13):  # longer: unpruned-DP-checkable
        v = [int(x) for x in rng.integers(0, 50, 60)]
        v = (v[:20] + [x + 300 for x in v[20:40]]
             + [x + 100 for x in v[40:]])
        series[k] = v
        rows += [
            (k, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    beta = Fraction(5000)
    got = {}
    for r in pelt_changepoints(
        df, ["k"], "ts", "v", penalty_num=5000, min_size=2
    ).collect():
        got.setdefault(r["k"], []).append(
            (r["seg_idx"], r["start_idx"], r["end_idx"],
             r["seg_sum"], r["seg_n"])
        )
    for k in got:
        got[k].sort()

    def segcost(v, a, b):
        s = sum(v[a:b])
        s2 = sum(x * x for x in v[a:b])
        return Fraction(s2) - Fraction(s * s, b - a)

    def total(v, bounds):
        return (sum(segcost(v, a, b) for a, b in bounds)
                + beta * (len(bounds) - 1))

    # exhaustive optimum on the short series
    for k in (0, 1, 2, 3):
        v = series[k]
        n = len(v)
        best = None
        for r_ in range(0, n):
            for cps in combinations(range(2, n - 1), r_):
                pts = [0] + list(cps) + [n]
                if any(b - a < 2 for a, b in zip(pts, pts[1:])):
                    continue
                c = total(v, list(zip(pts, pts[1:])))
                if best is None or c < best:
                    best = c
        gb = [(a, b + 1) for _, a, b, _, _ in got[k]]
        assert total(v, gb) == best, k

    # unpruned O(n^2) DP agreement + planted shifts on the long ones
    def dp_ref(v, ms=2):
        n = len(v)
        F_ = [None] * (n + 1)
        F_[0] = -beta
        prev = [0] * (n + 1)
        for t in range(ms, n + 1):
            best = arg = None
            for s in [0] + list(range(ms, t - ms + 1)):
                if F_[s] is None:
                    continue
                c = F_[s] + beta + segcost(v, s, t)
                if best is None or c < best:
                    best, arg = c, s
            F_[t], prev[t] = best, arg
        t, out = n, []
        while t > 0:
            out.append((prev[t], t))
            t = prev[t]
        return sorted(out)

    for k in (10, 11, 12):
        v = series[k]
        gb = sorted((a, b + 1) for _, a, b, _, _ in got[k])
        assert total(v, gb) == total(v, dp_ref(v)), k
        starts = sorted(a for a, _ in gb)
        assert any(abs(s - 20) <= 1 for s in starts)
        assert any(abs(s - 40) <= 1 for s in starts)
        # segments partition the series; sums are consistent
        assert sum(n_ for *_, n_ in got[k]) == len(v)
        # PELT's optimum is never worse than binseg's greedy cuts
        bs = {
            r["idx"]
            for r in binseg_changepoints(
                df.filter(f"k = {k}"), ["k"], "ts", "v",
                max_changes=2, min_size=2,
            ).collect()
        }
        pts = [0] + sorted(bs) + [len(v)]
        bs_bounds = list(zip(pts, pts[1:]))
        assert total(v, gb) <= total(v, bs_bounds)


def test_whittaker_smooth_reference(spark):
    import datetime as dt

    import numpy as np

    from c3s_sm_spark.operators.timeseries import whittaker_smooth

    rng = np.random.default_rng(177)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for k in range(3):
        n = 50 + 10 * k
        y = (100 + 30 * np.sin(np.arange(n) / 6.0)
             + rng.normal(0, 8, n))
        y[10] = np.nan
        y[25] = np.nan
        series[k] = y
        rows += [
            (k, base + dt.timedelta(days=i),
             None if np.isnan(x) else float(x))
            for i, x in enumerate(y)
        ]
    # under 3 observed points: pass-through, nulls stay null
    rows += [(9, base, 5.0), (9, base + dt.timedelta(days=1), None)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    got = {}
    for r in whittaker_smooth(df, ["k"], "ts", "v", lam=10.0).collect():
        got.setdefault(r["k"], []).append((r["ts"], r["wh_smooth"]))
    for k in got:
        got[k].sort()
    for k, y in series.items():
        n = len(y)
        w = (~np.isnan(y)).astype(float)
        D = np.zeros((n - 2, n))
        idx = np.arange(n - 2)
        D[idx, idx] = 1
        D[idx, idx + 1] = -2
        D[idx, idx + 2] = 1
        z = np.linalg.solve(
            np.diag(w) + 10.0 * (D.T @ D), w * np.nan_to_num(y)
        )
        gz = np.array([x for _, x in got[k]], dtype=float)
        assert np.allclose(gz, z, rtol=1e-10, atol=1e-10), k
        assert not np.isnan(gz).any()  # gaps interpolated
        # curvature strictly reduced vs the raw series
        filled = np.nan_to_num(y, nan=float(np.nanmean(y)))
        assert (np.abs(np.diff(gz, 2)).sum()
                < np.nansum(np.abs(np.diff(filled, 2))))
    assert [x for _, x in got[9]] == [5.0, None]
    # parallelism invariance: identical bits
    got2 = {}
    for r in whittaker_smooth(
        df.repartition(5), ["k"], "ts", "v", lam=10.0, n_partitions=2
    ).collect():
        got2.setdefault(r["k"], []).append((r["ts"], r["wh_smooth"]))
    for k in got2:
        got2[k].sort()
    assert got2 == got
    # lam=0 with missing values: diag(w) is singular for the gap rows —
    # must pass observed values through with NaN gaps, not LinAlgError
    # inside the executor (ADVICE r4)
    import datetime as _dt

    base0 = _dt.datetime(2024, 1, 1)
    gappy = spark.createDataFrame(
        [
            (1, base0 + _dt.timedelta(days=i), v)
            for i, v in enumerate([1.0, None, 3.0, 4.0, None, 6.0])
        ],
        "k long, ts timestamp, v double",
    )
    got0 = [
        r["wh_smooth"]
        for r in whittaker_smooth(gappy, ["k"], "ts", "v", lam=0.0)
        .orderBy("ts")
        .collect()
    ]
    assert got0 == [1.0, None, 3.0, 4.0, None, 6.0]


def test_hampel_filter_reference(spark):
    import datetime as dt

    import numpy as np
    import pytest

    from c3s_sm_spark.operators.timeseries import hampel_filter

    rng = np.random.default_rng(178)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for g in range(3):
        v = [int(x) for x in rng.integers(100, 120, 40)]
        v[10] = 5000
        v[30] = -4000  # planted spikes
        series[g] = v
        rows += [
            (g, base + dt.timedelta(days=i), x) for i, x in enumerate(v)
        ]
    # constant series: MAD 0, any deviation flags (classic convention)
    series[9] = [50] * 10 + [51] + [50] * 5
    rows += [
        (9, base + dt.timedelta(days=i), x)
        for i, x in enumerate(series[9])
    ]
    df = spark.createDataFrame(rows, "g long, ts timestamp, v long")
    got = {}
    for r in hampel_filter(
        df, ["g"], "ts", "v", half_window=3, k=3
    ).collect():
        got.setdefault(r["g"], []).append(
            (r["ts"], r["n_win"], r["med2"], r["mad4"],
             r["is_out"], r["rep2"])
        )
    for g in got:
        got[g].sort()

    def ref(v, h=3, k=3):
        n = len(v)
        out = []
        for t in range(n):
            wnd = sorted(v[max(0, t - h):min(n, t + h + 1)])
            m = len(wnd)
            med2 = (2 * wnd[m // 2] if m % 2 == 1
                    else wnd[m // 2 - 1] + wnd[m // 2])
            devs = sorted(abs(2 * x - med2) for x in wnd)
            mad4 = (2 * devs[m // 2] if m % 2 == 1
                    else devs[m // 2 - 1] + devs[m // 2])
            iso = 1 if 2 * abs(2 * v[t] - med2) > k * mad4 else 0
            out.append((m, med2, mad4, iso, med2 if iso else 2 * v[t]))
        return out

    for g, v in series.items():
        assert [x[1:] for x in got[g]] == ref(v), g
    for g in (0, 1, 2):
        flags = [x[4] for x in got[g]]
        # both planted spikes flagged; false-positive rate stays low
        assert flags[10] == 1 and flags[30] == 1
        assert sum(flags) <= 6
        # replacements pull the spikes back to the local level
        assert abs(got[g][10][5] / 2 - 110) < 20
    # constant-series convention: the lone 51 is the only flag
    f9 = [x[4] for x in got[9]]
    assert f9[10] == 1 and sum(f9) == 1
    with pytest.raises(ValueError):
        hampel_filter(df, ["g"], "ts", "v", half_window=0)
