"""Point-in-time / irregular-series operators: as-of join, bidirectional
nearest match, sessionization, time-weighted mean, linear-interpolation
gap fill, time-range windows, counter rates, OHLC, value histograms,
cross-source validation metrics, EWMA, LTTB downsampling.

Reference parity: the reference's time-series consumers align irregular
observation series against regular product grids and against each other
by *nearest prior / nearest-within-window observation*
(``/root/reference/src/c3s_sm/interface.py`` reads back per-GPI series
that downstream station-vs-satellite validation temporally matches).
These operators generalize that contract to the tokenized-sequence
corpus: each is a single hash shuffle on the series key followed by a
sort-based window or a sorted partition-level Arrow kernel — no
range/cross join anywhere, so the plans survive 10^12-row inputs as
long as a single key's series fits a task (the same contract the
reference's per-cell reshuffle already imposes).

Per-key contract: every order-dependent operator that needs a key's
whole series (EWMA, LTTB, Holt and Holt-Winters, SWI, Croston,
Whittaker, matrix profile, BinSeg, PELT, isotonic blocks,
Mann-Kendall, Sen's slope) runs on ONE helper,
:func:`c3s_sm_spark.functions.per_key.per_key_ordered_map`:

- width: a hash shuffle on the keys into ``n_partitions`` partitions,
  by default 2x ``defaultParallelism`` (AQE may coalesce a bare
  ``repartition(keys)`` into one task);
- order: each kernel call sees one key's rows sorted by the time
  column (then the tiebreak, where the operator takes one);
- null keys: null-key rows form one series, as in Spark's ``groupBy``.

Skew note (100 TB): these operators partition by the series key. A
pathological hot key (one user with 10^9 events) serializes into one
task; the mitigation is the same key-salting used by the writer path
(``c3s_sm_spark.operators.salting``) *plus* re-merging per-salt partial
states, which is only sound for the associative aggregates here
(range-window sums, counter increase, OHLC, histograms, validation
sums). The order-dependent ones (as-of/nearest match, sessionize,
interpolation, EWMA, LTTB) fundamentally need the full series ordered —
exactly like the reference's per-cell series assembly — so by default
the engine keeps them per-key and documents the bound instead of
silently mis-labelling sessions across salt boundaries
(tests/test_timeseries.py pins correctness under a hot-key fixture).
For the three where it bites hardest, the bound is REMOVED by two-phase
range-partition variants exactly equal to the plain paths at any
partition count (pytest + the driver's hash oracle both pin each):
:func:`sessionize_scalable` (local sessionize per time chunk + a
driver-bounded boundary-merge walk — ordinals chain sequentially),
:func:`asof_join_scalable` (local window per chunk + ASSOCIATIVE
per-chunk carry-ins, fully distributed, no driver collect), and
:func:`nearest_match_scalable` (the same carries mirrored to both the
backward and forward sides).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from c3s_sm_spark.functions.per_key import key_ddl, per_key_ordered_map


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Sequence[str] = ("value",),
    tolerance_s: int | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Attach, to every ``left`` row, the most recent ``right`` row
    at-or-before its timestamp (per key) — the canonical point-in-time
    join (pandas ``merge_asof``, kdb ``aj``, QuestDB ``ASOF JOIN``).

    Implementation is the union-tag trick, NOT a range join: tag right
    rows, union both sides, and take ``last(value, ignorenulls=True)``
    over a per-key window ordered by ``(ts, is_right DESC, tiebreak)`` —
    right rows at the exact probe timestamp sort before the probe, giving
    at-or-before (``<=``) semantics. One shuffle on ``keys``, one sort;
    a naive ``l.ts >= r.ts`` theta-join would be quadratic per key and
    unusable at corpus scale.

    ``tolerance_s`` nulls the attached values when the matched right row
    is older than the probe by more than that many seconds (pandas
    ``merge_asof(tolerance=...)``). ``tiebreak`` (a right-side column)
    makes "last" deterministic when several right rows share a timestamp:
    the one with the greatest tiebreak value wins.

    Output: all ``left`` columns, plus each value column as
    ``asof_<col>``, plus ``asof_age_s`` (probe ts minus matched ts,
    seconds; null when nothing matched / out of tolerance).
    """
    keys = list(keys)
    value_cols = list(value_cols)
    unioned, left_cols = _asof_union(
        left, right, keys, left_ts, right_ts, value_cols, tiebreak
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__is_right").desc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *left_cols,
        "__is_right",
        F.unix_timestamp("__ts").alias("__l_epoch"),
        F.last("__r_epoch", ignorenulls=True).over(w).alias("__m_epoch"),
        *[F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"asof_{c}") for c in value_cols],
    )
    out = filled.filter(F.col("__is_right") == 0)
    return _asof_finalize(out, left_cols, value_cols, tolerance_s)


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tiebreak: str | None,
) -> tuple[DataFrame, list[str]]:
    """Shared union-tag relation for the as-of join family: left probes
    and right observations stacked with ``__ts / __is_right / __tb /
    __r_epoch / __v_<col>`` bookkeeping columns."""
    tagged_right = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).cast("long").alias("__tb"),
        F.unix_timestamp(right_ts).alias("__r_epoch"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    left_cols = left.columns
    tagged_left = left.select(
        *left_cols,
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(0).cast("long").alias("__tb"),
        F.lit(None).cast("long").alias("__r_epoch"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
    )
    # right-only columns are null on left rows and vice versa; unionByName
    # with allowMissingColumns would also work but an explicit select keeps
    # the schema (and the plan) symmetric.
    unioned = tagged_left.unionByName(
        tagged_right.select(
            *keys,
            *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c not in keys],
            "__ts", "__is_right", "__tb", "__r_epoch",
            *[f"__v_{c}" for c in value_cols],
        ),
        allowMissingColumns=False,
    )
    return unioned, left_cols


def _asof_finalize(
    out: DataFrame,
    left_cols: list[str],
    value_cols: list[str],
    tolerance_s: int | None,
) -> DataFrame:
    """Shared tolerance gate + output projection: expects ``asof_<col>``
    fill columns plus ``__l_epoch`` / ``__m_epoch`` on ``out``."""
    age = F.col("__l_epoch") - F.col("__m_epoch")
    in_tol = age <= F.lit(tolerance_s) if tolerance_s is not None else F.lit(True)
    keep = F.col("__m_epoch").isNotNull() & in_tol
    return out.select(
        *left_cols,
        *[F.when(keep, F.col(f"asof_{c}")).alias(f"asof_{c}") for c in value_cols],
        F.when(keep, age).cast("long").alias("asof_age_s"),
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    gap_s: int = 1800,
) -> DataFrame:
    """Assign gap-based session ordinals per key (web-analytics /
    sensor-burst sessionization): a new session starts whenever the time
    since the previous event for the same key exceeds ``gap_s`` seconds.

    Pure window algebra — ``lag`` to flag boundaries, running ``sum`` of
    the integer flags to number sessions — so both the flag and the
    ordinal are exact integers on any engine. One shuffle on ``key``.
    Adds ``session_seq`` (1-based per-key session ordinal).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    epoch = F.unix_timestamp(ts_col)
    prev = F.lag(epoch).over(w)
    is_new = F.when(prev.isNull() | ((epoch - prev) > gap_s), 1).otherwise(0)
    run = Window.partitionBy(key).orderBy(F.col(ts_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("session_seq", F.sum(is_new).over(run).cast("long"))


def session_stats(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    gap_s: int = 1800,
) -> DataFrame:
    """One row per (key, session): event count, start/end epoch seconds,
    duration. Integer-only output, so the result is bit-stable across
    engines and partitionings (the repo's cross-engine hash contract)."""
    return session_agg(sessionize(df, key, ts_col, gap_s), key, ts_col)


def session_agg(sessionized: DataFrame, key: str, ts_col: str = "ts") -> DataFrame:
    """Per-(key, session) stats over an already-sessionized frame — the
    shared aggregation body of :func:`session_stats`, usable with either
    :func:`sessionize` or :func:`sessionize_scalable` output (keeping
    both paths provably identical under the same oracle)."""
    epoch = F.unix_timestamp(ts_col)
    return sessionized.groupBy(key, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(epoch).alias("start_epoch"),
        F.max(epoch).alias("end_epoch"),
        (F.max(epoch) - F.min(epoch)).alias("duration_s"),
    )


def time_weighted_sums(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_micro: Column,
    bucket: Column,
) -> DataFrame:
    """Per ``(keys, bucket)``: the exact integer pieces of a
    time-weighted average over irregularly sampled points.

    Each observation is weighted by the seconds until the NEXT
    observation in the same bucket (last-observation-carried-forward, the
    standard step-function integral used by industrial historians and
    kdb's ``twa``); the final observation carries to the bucket end,
    approximated here by the bucket's max timestamp (so a single-point
    bucket has weight 0 and falls back to the unweighted value).

    Emits ``tw_sum`` = sum(value_micro * dt_s) and ``dt_total`` = sum(dt_s)
    as BIGINTs plus plain ``v_sum_micro``/``n`` — division into a float
    mean is left to the caller, keeping the hot path and the cross-engine
    witness exact-integer. One shuffle on ``(keys, bucket)`` for the
    window + the aggregation reuses the same partitioning.
    """
    keys = list(keys)
    b = df.withColumn("__bucket", bucket).withColumn("__vm", value_micro)
    w = Window.partitionBy(*keys, "__bucket").orderBy(F.col(ts_col).asc())
    epoch = F.unix_timestamp(ts_col)
    dt = (F.lead(epoch).over(w) - epoch).cast("long")
    b = b.withColumn("__dt", F.coalesce(dt, F.lit(0)))
    return (
        b.groupBy(*keys, F.col("__bucket").alias("bucket"))
        .agg(
            F.sum(F.col("__vm") * F.col("__dt")).cast("long").alias("tw_sum"),
            F.sum("__dt").cast("long").alias("dt_total"),
            F.sum("__vm").cast("long").alias("v_sum_micro"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def interp_linear_micro(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    micro_col: str,
) -> DataFrame:
    """Linear interpolation of interior nulls in 1e-6-unit integer space
    (pandas ``Series.interpolate(limit_area='inside')``): for a null at
    time t between the nearest non-null neighbors (t0,v0) and (t1,v1),
    emit ``v0 + trunc((v1-v0)*(t-t0) / (t1-t0))`` — all-BIGINT arithmetic
    (Spark ``div`` and DuckDB ``//`` both truncate toward zero, verified
    on negatives: -7 div 2 == -7//2 == -3), so the filled value is
    identical on any engine / any partitioning (the same reason the
    rollup witnesses sum micro units). Leading / trailing nulls stay null
    (no extrapolation), matching the reference's all-fill rows for
    never-observed dates.

    Two window passes over one per-key sort: last non-null (value, ts)
    looking back, first non-null looking forward. Adds ``<micro_col>_filled``.
    """
    keys = list(keys)
    order = F.col(ts_col).asc()
    wb = Window.partitionBy(*keys).orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy(*keys).orderBy(order).rowsBetween(0, Window.unboundedFollowing)
    epoch = F.unix_timestamp(ts_col).cast("long")
    v = F.col(micro_col).cast("long")
    t_at_v = F.when(v.isNotNull(), epoch)
    v0c, t0c, v1c, t1c, tc = (f"__{micro_col}_{s}" for s in ("v0", "t0", "v1", "t1", "t"))
    tmp = df.select(
        "*",
        F.last(v, ignorenulls=True).over(wb).alias(v0c),
        F.last(t_at_v, ignorenulls=True).over(wb).alias(t0c),
        F.first(v, ignorenulls=True).over(wf).alias(v1c),
        F.first(t_at_v, ignorenulls=True).over(wf).alias(t1c),
        epoch.alias(tc),
    )
    # truncating division of exact BIGINTs: bit-stable everywhere. t1 > t0
    # is guaranteed on the null rows (both neighbors are strict).
    interp = F.col(v0c) + F.expr(
        f"(({v1c} - {v0c}) * ({tc} - {t0c})) div ({t1c} - {t0c})"
    )
    filled = F.when(v.isNotNull(), v).otherwise(
        F.when(F.col(v0c).isNotNull() & F.col(v1c).isNotNull(), interp)
    )
    return tmp.withColumn(f"{micro_col}_filled", filled.cast("long")).drop(
        v0c, t0c, v1c, t1c, tc
    )


def range_window_sums(
    df: DataFrame,
    keys: Sequence[str],
    day_col: Column,
    value_micro: Column,
    trailing_days: int,
) -> DataFrame:
    """Trailing N-day time-RANGE window per key — unlike a rows-frame
    (``moving_mean``), the frame is defined by the time axis, so gaps in
    the series shrink the window instead of reaching further back in
    time. This is Spark's ``rangeBetween`` over an integer day ordinal
    (``RANGE BETWEEN N PRECEDING AND CURRENT ROW`` in ANSI SQL).

    Input is one row per (keys, day) — aggregate to daily first.
    Emits ``w_sum`` / ``w_n`` as BIGINTs over the trailing window.
    One shuffle on ``keys``; the range frame is evaluated in the same
    per-key sort the rows-frame would use.
    """
    keys = list(keys)
    b = df.withColumn("__day_ord", F.datediff(day_col, F.lit("1970-01-01")).cast("long"))
    b = b.withColumn("__vm", value_micro)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__day_ord").asc())
        .rangeBetween(-(trailing_days - 1), 0)
    )
    return (
        b.withColumn("w_sum", F.sum("__vm").over(w).cast("long"))
        .withColumn("w_n", F.count("__vm").over(w).cast("long"))
        .drop("__day_ord", "__vm")
    )


def counter_increase(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    micro_col: str,
    bucket: Column,
) -> DataFrame:
    """Monotone-counter increase per ``(keys, bucket)`` with reset
    detection (Prometheus ``increase()`` semantics): the per-step delta
    is ``v - lag(v)`` except when negative — a counter reset — where the
    post-reset value itself is the increase. All-integer in micro units.

    The first observation of each key contributes nothing (no baseline),
    matching Prometheus. One shuffle on ``keys`` for the lag, then a
    grouped integer sum that reuses the partitioning.
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    v = F.col(micro_col).cast("long")
    prev = F.lag(v).over(w)
    step = (
        F.when(prev.isNull(), F.lit(0))
        .when(v >= prev, v - prev)
        .otherwise(v)
    )
    b = df.withColumn("__bucket", bucket).withColumn("__step", step)
    return b.groupBy(*keys, F.col("__bucket").alias("bucket")).agg(
        F.sum("__step").cast("long").alias("increase_micro"),
        F.count(F.lit(1)).alias("n_samples"),
    )


def ohlc(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    micro_col: str,
    bucket: Column,
) -> DataFrame:
    """Per ``(keys, bucket)`` candlestick rollup: open (value at the
    earliest ts), high, low, close (value at the latest ts), count —
    the A1/A4/A5 coverage aggregates generalized to the OHLC form every
    time-series store ships (TimescaleDB ``candlestick_agg``, InfluxDB
    first/last/min/max). ``min_by``/``max_by`` keep it one partial-agg
    shuffle — no window, no self-join; deterministic when ``ts_col`` is
    unique per key (the corpus guarantees microsecond timestamps).
    All-integer in micro units, so hash-stable cross-engine (DuckDB twin:
    ``arg_min``/``arg_max``).
    """
    keys = list(keys)
    v = F.col(micro_col).cast("long")
    return (
        df.withColumn("__bucket", bucket)
        .groupBy(*keys, F.col("__bucket").alias("bucket"))
        .agg(
            F.min_by(v, F.col(ts_col)).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, F.col(ts_col)).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def value_histogram(
    df: DataFrame,
    keys: Sequence[str],
    micro_col: str,
    lo_micro: int,
    width_micro: int,
    n_bins: int,
) -> DataFrame:
    """Fixed-width value histogram per key group: bin index =
    ``clamp(trunc((v - lo) / width), 0, n_bins-1)`` in exact integer
    space, then a counting aggregate. One map-side-combinable shuffle on
    ``(keys, bin)`` — the profiling companion to ``profile_table``
    (distribution shape, not just min/max). Out-of-range values clamp
    into the edge bins (ANSI ``width_bucket`` overflow semantics
    collapsed onto the edges so bin count is fixed).

    Emits ``bin`` (0-based BIGINT), ``bin_lo_micro`` (inclusive lower
    edge), ``n`` and ``v_sum_micro`` — all exact integers.
    """
    keys = list(keys)
    v = F.col(micro_col).cast("long")
    raw = F.floor((v - F.lit(lo_micro)) / F.lit(width_micro)).cast("long")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.withColumn("__bin", bin_)
        .groupBy(*keys, F.col("__bin").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).cast("long").alias("v_sum_micro"),
        )
        .withColumn(
            "bin_lo_micro",
            (F.lit(lo_micro) + F.col("bin") * F.lit(width_micro)).cast("long"),
        )
    )


def paired_validation(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    x_col: str = "x",
    y_col: str = "y",
    tolerance_s: int | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Cross-source series validation: temporally match each ``left``
    observation to the nearest-at-or-before ``right`` observation per key
    (the as-of join above), then aggregate the EXACT integer pieces of the
    standard validation metrics — the downstream consumer of the
    reference's reshuffled series is exactly this station-vs-satellite
    comparison (nearest-within-window matching, then bias / RMSD /
    correlation; the reference's read-back tests pin the per-location
    series this operator consumes,
    ``/root/reference/tests/test_reshuffle.py:76-84``).

    ``x_col`` (left) and ``y_col`` (right) must already be integer-scaled
    columns (e.g. 1e-4 units for 2-decimal inputs). Emits per key:
    ``n_matched``, ``sx``, ``sy`` (BIGINT sums), ``sxy``, ``sxx``, ``syy``
    (BIGINT sums of products — squared-unit scale). Derived floats are
    left to :func:`validation_scores`; the witness never divides.

    Overflow bound: sums of products stay inside int64 while
    ``n * max(x)^2 < 2^63`` — at 1e-4 scaling of values |v| <= 2^31/1e4,
    that is ~1e5 matched rows per key per 10^9 squared-unit magnitude;
    the engine's micro-unit convention (1e-6) would overflow at ~40 rows,
    hence the coarser scale here. One key shuffle for the match, and the
    metric aggregation reuses the same partitioning (no second exchange).
    """
    keys = list(keys)
    matched = asof_join(
        left, right, keys, left_ts=left_ts, right_ts=right_ts,
        value_cols=[y_col], tolerance_s=tolerance_s, tiebreak=tiebreak,
    ).filter(F.col(f"asof_{y_col}").isNotNull())
    x = F.col(x_col).cast("long")
    y = F.col(f"asof_{y_col}").cast("long")
    return matched.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
    )


def validation_scores(pieces: DataFrame, scale: int = 10000) -> DataFrame:
    """Turn :func:`paired_validation` integer pieces into the familiar
    float metrics — bias, RMSD, Pearson r — as a plain projection
    (no shuffle). Floats appear only HERE, outside any cross-engine
    witness; groups with zero variance on either side get null r."""
    n = F.col("n_matched").cast("double")
    s = float(scale)
    # everything below runs in double: products of the BIGINT pieces
    # (sx*sx etc.) would overflow int64 long before the pieces do
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    bias = (sx - sy) / n / s
    msd = (sxx - 2 * sxy + syy) / n / (s * s)
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    r = F.when(
        (var_x > 0) & (var_y > 0), cov_n / F.sqrt(var_x * var_y)
    )
    return pieces.select(
        "*",
        bias.alias("bias"),
        F.sqrt(msd).alias("rmsd"),
        r.alias("pearson_r"),
    )


def ewma(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    n_partitions: int | None = None,
) -> DataFrame:
    """Exponentially weighted moving average per key (pandas
    ``ewm(alpha=..., adjust=False).mean()`` recurrence:
    ``s_t = alpha*v_t + (1-alpha)*s_{t-1}``). Inherently order-recursive,
    so no window expression exists; runs as a pandas ``ewm`` per key on
    the per-key ordered map (module docstring), so the float recurrence
    is deterministic under ANY cluster partitioning — the north rule's
    bit-for-bit requirement holds even though the values are floats.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    # build a FRESH StructType: StructType.add() mutates the receiver,
    # and df.schema hands back the live object — mutating it corrupts df
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )

    def _ewma(_, rows):
        return rows.assign(
            **{out_col: rows[value_col].ewm(alpha=alpha, adjust=False).mean()}
        )

    return per_key_ordered_map(
        df, keys, [ts_col], _ewma, out_schema, n_partitions
    )


def lttb(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    n_out: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per key (Steinarsson
    2013) — the standard visualization reducer: keep first and last
    points, split the interior into ``n_out - 2`` buckets, and from each
    bucket keep the point forming the largest triangle with the
    previously kept point and the next bucket's centroid. Preserves
    visual extremes that uniform striding destroys.

    Runs on the per-key ordered map (module docstring); numpy inside,
    O(n) per key. Keys with ``<= n_out`` points pass through untouched.
    Emits the kept rows only (keys, ts, value).
    """
    src = df.select(*keys, ts_col, value_col)

    def _lttb_one(t, v, n):
        import numpy as np

        if len(t) <= n:
            return np.arange(len(t))
        keep = [0]
        # bucket boundaries over the interior [1, len-1)
        edges = np.linspace(1, len(t) - 1, n - 1).astype(np.int64)
        for b in range(n - 2):
            lo, hi = edges[b], edges[b + 1]
            nlo, nhi = edges[b + 1], (len(t) if b == n - 3 else edges[b + 2])
            cx, cy = t[nlo:nhi].mean(), v[nlo:nhi].mean()
            ax, ay = t[keep[-1]], v[keep[-1]]
            # triangle area vs previous kept point and next-bucket centroid
            area = np.abs(
                (ax - cx) * (v[lo:hi] - ay) - (ax - t[lo:hi]) * (cy - ay)
            )
            keep.append(lo + int(np.argmax(area)))
        keep.append(len(t) - 1)
        return np.asarray(keep)

    def _lttb(_, rows):
        t = rows[ts_col].to_numpy(dtype="datetime64[us]").view("int64").astype("float64")
        v = rows[value_col].to_numpy(dtype="float64")
        return rows.iloc[_lttb_one(t, v, n_out)]

    return per_key_ordered_map(
        src, keys, [ts_col], _lttb, src.schema, n_partitions
    )


def nearest_match(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_col: str = "value",
    window_s: int | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Bidirectional nearest-neighbor temporal match: attach to every
    ``left`` row the ``right`` row (same key) with the smallest absolute
    time distance, looking BOTH backward and forward — the pytesmo-style
    nearest-within-window matching that validates the reference's
    series downstream (``asof_join`` is the backward-only special case).

    Same union-tag plan: one shuffle on ``keys``, two running window
    frames — ``last`` over the backward frame picks the most recent
    prior right row, ``last`` over the same frame in the REVERSED order
    picks the earliest later one (rights at the probe's exact timestamp
    sort before it, so they win via the backward side at distance 0).
    The reversed running frame is the forward frame ``(0,
    unboundedFollowing)`` at O(n) per key instead of that frame's
    per-row recompute, which is O(n^2) on a hot key. Then a
    null-aware comparison of the two truncated-second distances keeps
    the closer (prior wins exact ties). ``window_s`` nulls matches
    farther than that many seconds — sufficient to check only the two
    candidates, because distance is monotone in recency on each side.

    Determinism under duplicate right timestamps: the prior side keeps
    the GREATEST ``tiebreak``, the next side the SMALLEST (each is
    "closest in sort order to the probe"); the corpus guarantees unique
    (key, ts) so this only matters for adversarial inputs.

    Output: all ``left`` columns + ``near_<value_col>`` +
    ``near_dt_s`` (probe epoch minus match epoch, signed: positive =
    matched an earlier row; null when no match in window).
    """
    keys = list(keys)
    unioned, left_cols = _nearest_union(
        left, right, keys, left_ts, right_ts, value_col, tiebreak
    )
    order, reverse = _nearest_orders()
    wb = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy(*keys).orderBy(*reverse).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cand = unioned.select(
        *left_cols,
        "__is_right",
        F.unix_timestamp("__ts").alias("__l_epoch"),
        F.last("__r_epoch", ignorenulls=True).over(wb).alias("__p_epoch"),
        F.last("__v", ignorenulls=True).over(wb).alias("__p_v"),
        F.last("__r_epoch", ignorenulls=True).over(wf).alias("__n_epoch"),
        F.last("__v", ignorenulls=True).over(wf).alias("__n_v"),
    ).filter(F.col("__is_right") == 0)
    return _nearest_finalize(cand, left_cols, value_col, window_s)


def _nearest_orders() -> tuple[list[Column], list[Column]]:
    """The nearest-match row order and its exact mirror (every direction
    and null placement flipped): a running frame over the mirror is the
    forward frame of the original order."""
    order = [F.col("__ts").asc(), F.col("__is_right").desc(), F.col("__tb").asc()]
    reverse = [
        F.col("__ts").desc(), F.col("__is_right").asc(), F.col("__tb").desc()
    ]
    return order, reverse


def _nearest_union(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    value_col: str,
    tiebreak: str | None,
) -> tuple[DataFrame, list[str]]:
    """Shared union-tag relation for the bidirectional nearest match."""
    v_t = right.schema[value_col].dataType
    tagged_right = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).cast("long").alias("__tb"),
        F.unix_timestamp(right_ts).alias("__r_epoch"),
        F.col(value_col).alias("__v"),
    )
    left_cols = left.columns
    tagged_left = left.select(
        *left_cols,
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(0).cast("long").alias("__tb"),
        F.lit(None).cast("long").alias("__r_epoch"),
        F.lit(None).cast(v_t).alias("__v"),
    )
    unioned = tagged_left.unionByName(
        tagged_right.select(
            *keys,
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in left_cols
                if c not in keys
            ],
            "__ts", "__is_right", "__tb", "__r_epoch", "__v",
        )
    )
    return unioned, left_cols


def _nearest_finalize(
    cand: DataFrame,
    left_cols: list[str],
    value_col: str,
    window_s: int | None,
) -> DataFrame:
    """Shared closer-of-two-candidates pick + window gate: expects
    ``__l_epoch / __p_epoch / __p_v / __n_epoch / __n_v`` on ``cand``."""
    d_prev = F.col("__l_epoch") - F.col("__p_epoch")
    d_next = F.col("__n_epoch") - F.col("__l_epoch")
    # prior wins ties and missing-next; null distances lose
    use_prev = F.col("__p_epoch").isNotNull() & (
        F.col("__n_epoch").isNull() | (d_prev <= d_next)
    )
    best_v = F.when(use_prev, F.col("__p_v")).otherwise(F.col("__n_v"))
    best_dt = F.when(use_prev, d_prev).otherwise(-d_next)
    any_match = F.col("__p_epoch").isNotNull() | F.col("__n_epoch").isNotNull()
    in_win = (
        F.abs(best_dt) <= F.lit(window_s) if window_s is not None else F.lit(True)
    )
    keep = any_match & in_win
    return cand.select(
        *left_cols,
        F.when(keep, best_v).alias(f"near_{value_col}"),
        F.when(keep, best_dt).cast("long").alias("near_dt_s"),
    )


def nearest_match_scalable(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_col: str = "value",
    window_s: int | None = None,
    tiebreak: str | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Hot-key-safe bidirectional nearest match: identical output to
    :func:`nearest_match` at any partition count, no single-task-per-key
    bound. Same fully distributed two-phase shape as
    :func:`asof_join_scalable`, with the carry mirrored to BOTH sides:
    the backward candidate falls back to the latest non-null right
    observation in any EARLIER chunk (``max(struct)`` summaries + a
    preceding-frame window over them), the forward candidate to the
    earliest in any LATER chunk (``min(struct)`` + a following-frame
    window). Both carries are associative, so there is no driver collect
    at all; chunk labels come from the deterministic
    :func:`_time_chunk` buckets (r5 — no ``localCheckpoint``, see
    :func:`asof_join_scalable`).
    """
    keys = list(keys)
    n = n_partitions or left.sparkSession.sparkContext.defaultParallelism * 8
    unioned, left_cols = _nearest_union(
        left, right, keys, left_ts, right_ts, value_col, tiebreak
    )
    # deterministic time-bucket chunks, no localCheckpoint (r5 — see
    # _time_chunk and the asof_join_scalable note)
    tc = _time_chunk(unioned, "__ts", n)
    if tc is None:
        return nearest_match(
            left, right, keys, left_ts, right_ts, value_col,
            window_s, tiebreak,
        )
    chunk, _lo, _width = tc
    d = unioned.withColumn("__pid", chunk)
    # forward candidates from a running frame over the mirrored order,
    # as in nearest_match
    order, reverse = _nearest_orders()
    wb = Window.partitionBy("__pid", *keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy("__pid", *keys).orderBy(*reverse).rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = d.select(
        *left_cols,
        "__pid",
        "__is_right",
        F.unix_timestamp("__ts").alias("__l_epoch"),
        F.last("__r_epoch", ignorenulls=True).over(wb).alias("__lp_epoch"),
        F.last("__v", ignorenulls=True).over(wb).alias("__lp_v"),
        F.last("__r_epoch", ignorenulls=True).over(wf).alias("__ln_epoch"),
        F.last("__v", ignorenulls=True).over(wf).alias("__ln_v"),
    ).filter(F.col("__is_right") == 0)

    is_r = F.col("__is_right") == 1
    has_v = is_r & F.col("__v").isNotNull()
    sort_key = [F.col("__ts"), F.col("__tb")]
    summ = d.groupBy("__pid", *keys).agg(
        F.max(F.when(is_r, F.struct(*sort_key, F.col("__r_epoch")))).alias("__be"),
        F.max(F.when(has_v, F.struct(*sort_key, F.col("__v")))).alias("__bv"),
        F.min(F.when(is_r, F.struct(*sort_key, F.col("__r_epoch")))).alias("__fe"),
        F.min(F.when(has_v, F.struct(*sort_key, F.col("__v")))).alias("__fv"),
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy("__pid")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    carry = summ.select(
        F.col("__pid").alias("__c_pid"),
        *[F.col(k).alias(f"__ck{i}") for i, k in enumerate(keys)],
        F.last("__be", ignorenulls=True).over(w_prev)["__r_epoch"].alias("__cp_epoch"),
        F.last("__bv", ignorenulls=True).over(w_prev)["__v"].alias("__cp_v"),
        F.first("__fe", ignorenulls=True).over(w_next)["__r_epoch"].alias("__cn_epoch"),
        F.first("__fv", ignorenulls=True).over(w_next)["__v"].alias("__cn_v"),
    )
    cand = local.join(carry, _carry_cond(keys), "left").select(
        *left_cols,
        "__l_epoch",
        F.coalesce("__lp_epoch", "__cp_epoch").alias("__p_epoch"),
        F.coalesce("__lp_v", "__cp_v").alias("__p_v"),
        F.coalesce("__ln_epoch", "__cn_epoch").alias("__n_epoch"),
        F.coalesce("__ln_v", "__cn_v").alias("__n_v"),
    )
    return _nearest_finalize(cand, left_cols, value_col, window_s)


def sessionize_scalable(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    gap_s: int = 1800,
    n_partitions: int | None = None,
) -> DataFrame:
    """Hot-key-safe sessionization: identical output to
    :func:`sessionize`, but a key's series no longer serializes into one
    task. This removes the module's documented skew bound for the one
    order-dependent operator where it bites hardest (a 10^9-event user
    is a real thing in clickstreams; a 10^9-point GPI is not).

    Two-phase boundary merge, fully distributed (r5 redesign):

    1. A DETERMINISTIC fixed-width time-bucket chunk id
       (:func:`_time_chunk`) splits every key's timeline into
       contiguous chunks; sessionize each ``(chunk, key)`` locally
       (window — parallel, a hot key spreads over its occupied
       buckets). Being a pure column expression, the chunk label is
       identical on every recompute — no ``localCheckpoint`` of the
       whole input (the pre-r5 design's dominant cost: it pinned
       ``repartitionByRange``'s SAMPLED bounds, materializing every
       row per call).
    2. Per ``(chunk, key)``, aggregate ``(first_epoch, last_epoch,
       n_local_sessions)``. A chunk's first local session continues
       the previous occupied chunk's last session iff the boundary gap
       <= ``gap_s``; the per-chunk ordinal offset is then a pair of
       prefix sums over the summary frame — ``sum(n_loc) - sum
       (merged)`` — computed with per-key windows over a frame of
       (keys x occupied chunks) rows. No driver collect at all (the
       pre-r5 walk collected boundary-spanning keys, which the
       time-bucket layout would make key-cardinality-sized). The
       offset relation joins back on ``(chunk, key)``; the big side
       already hashes on exactly those attributes from its window, so
       only the summary-sized side moves.
    """
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism * 8
    tc = _time_chunk(df, ts_col, n)
    if tc is None:
        # empty / all-null-ts input: the plain operator's window handles
        # the degenerate shapes; there is nothing to scale
        return sessionize(df, key, ts_col, gap_s)
    chunk, _lo, _width = tc
    epoch = F.unix_timestamp(ts_col)
    d = df.withColumn("__pid", chunk).withColumn("__e", epoch)
    w = Window.partitionBy("__pid", key).orderBy(F.col(ts_col).asc())
    run = Window.partitionBy("__pid", key).orderBy(F.col(ts_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    prev = F.lag(F.col("__e")).over(w)
    is_new = F.when(prev.isNull() | ((F.col("__e") - prev) > gap_s), 1).otherwise(0)
    part = d.withColumn("__local_seq", F.sum(is_new).over(run).cast("long"))

    s = part.groupBy("__pid", key).agg(
        F.min("__e").alias("first_e"),
        F.max("__e").alias("last_e"),
        F.max("__local_seq").alias("n_loc"),
    )
    w_key = Window.partitionBy(key).orderBy("__pid")
    prev_last = F.lag("last_e").over(w_key)
    merged = F.when(
        prev_last.isNotNull() & ((F.col("first_e") - prev_last) <= gap_s), 1
    ).otherwise(0)
    # offset_i = sum_{j<i} n_loc_j - sum_{j<=i} merged_j  (the pre-r5
    # driver walk's cum/merged recurrence, unrolled into prefix sums)
    off = (
        F.coalesce(
            F.sum("n_loc").over(
                w_key.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        - F.sum(merged).over(w_key.rowsBetween(Window.unboundedPreceding, 0))
    ).cast("long")
    offdf = (
        s.select(
            F.col("__pid").alias("__o_pid"),
            F.col(key).alias("__o_key"),
            off.alias("__off"),
        )
        # offset 0 rows carry no information — drop them so the joined
        # side stays as small as the data allows (often empty)
        .where(F.col("__off") != 0)
    )
    out = part.join(
        offdf,
        (F.col("__pid") == F.col("__o_pid"))
        & F.col(key).eqNullSafe(F.col("__o_key")),
        "left",
    )
    seq = F.col("__local_seq") + F.coalesce(F.col("__off"), F.lit(0))
    return out.withColumn("session_seq", seq.cast("long")).drop(
        "__pid", "__e", "__local_seq", "__o_pid", "__o_key", "__off"
    )


def _time_chunk(df: DataFrame, ts_field: str, n_chunks: int):
    """Deterministic fixed-width time-bucket chunk id for the scalable
    variants (r5): ``floor((epoch - min_epoch) / width)`` — a PURE
    column expression, identical on every recompute, so the multi-pass
    two-phase operators need NO ``localCheckpoint`` to keep their chunk
    labels consistent (the pre-r5 ``repartitionByRange`` +
    ``spark_partition_id`` labels depended on sampled range bounds,
    forcing a full materialization of the unioned input per call —
    measured as the dominant cost of every scalable variant). Chunk ids
    are monotone in the timestamp, so chunks are CONTIGUOUS in any
    ``(ts, ...)`` window order and equal timestamps never straddle a
    boundary. Returns ``(chunk_col, lo, width)``, or None for an
    empty/all-null input (caller falls back to the plain operator,
    which handles those shapes trivially).

    Skew note: a key whose rows all land in one time bucket degrades to
    the plain single-task behavior FOR THAT SPAN ONLY; n_chunks
    defaults to cores*8 so a uniformly-spread hot key splits ~8 ways
    per core. The driver-side min/max probe is two longs — bounded at
    any scale (and served from parquet footer stats when available).

    Cost note: ``df`` is evaluated once by the min/max probe here and
    again by each downstream pass of the calling operator. A caller
    whose input has expensive lineage (a join, a wide aggregate, a
    Python UDF) should ``persist()`` it first.
    """
    row = df.agg(
        F.min(F.unix_timestamp(ts_field)).alias("mn"),
        F.max(F.unix_timestamp(ts_field)).alias("mx"),
    ).head()
    mn, mx = row["mn"], row["mx"]
    if mn is None:
        return None
    width = max(1, (int(mx) - int(mn)) // n_chunks + 1)
    chunk = (
        (F.unix_timestamp(ts_field) - F.lit(int(mn))) / F.lit(width)
    ).cast("long")
    return chunk, int(mn), width


def _carry_cond(keys: list[str]) -> Column:
    """Null-safe carry-join condition for the scalable variants: a plain
    equi-join on the key columns would never match NULL keys, silently
    dropping their cross-chunk carries (the plain paths handle NULL keys
    via window partitioning, which groups NULLs together)."""
    cond = F.col("__pid") == F.col("__c_pid")
    for i, k in enumerate(keys):
        cond = cond & F.col(k).eqNullSafe(F.col(f"__ck{i}"))
    return cond


def asof_join_scalable(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Sequence[str] = ("value",),
    tolerance_s: int | None = None,
    tiebreak: str | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Hot-key-safe as-of join: identical output to :func:`asof_join`,
    but a key's series no longer serializes into one task.

    Where :func:`sessionize_scalable` needs a (driver-bounded) sequential
    boundary walk — session ordinals chain through every merge decision —
    the as-of carry state is just "latest right row at-or-before the
    chunk start", which is ASSOCIATIVE. So this variant is fully
    distributed, no driver collect at all:

    1. A DETERMINISTIC fixed-width time-bucket chunk id over ``__ts``
       (:func:`_time_chunk`) splits every key's timeline into
       contiguous chunks (chunk is monotone in ``__ts``, so equal sort
       keys never straddle a boundary); run the plain last-non-null
       window per ``(chunk, keys)`` — parallel. Being a pure column
       expression, the label is identical on every recompute: the
       window pass and the summary pass agree WITHOUT checkpointing
       the unioned input (the pre-r5 ``repartitionByRange`` labels
       depended on sampled bounds, forcing a full ``localCheckpoint``
       materialization per call — its dominant cost).
    2. Per-chunk summaries: for ``__r_epoch`` and each value column, the
       chunk's last *non-null* right observation as a
       ``max(struct(__ts, __tb, x))`` — per COLUMN, because the plain
       window's ``last(x, ignorenulls)`` skips right rows where that
       one column is null. A key-partitioned window over the summaries
       (keys x occupied chunks rows, still distributed) turns them
       into per-chunk carry-ins; a join on ``(chunk, keys)`` (AQE
       broadcasts it when small) patches rows the local window left
       unfilled via ``coalesce(local, carry)``.
    """
    keys = list(keys)
    value_cols = list(value_cols)
    n = n_partitions or left.sparkSession.sparkContext.defaultParallelism * 8
    unioned, left_cols = _asof_union(
        left, right, keys, left_ts, right_ts, value_cols, tiebreak
    )
    # deterministic time-bucket chunks (r5): a pure column expr — equal
    # __ts never straddles a boundary, every recompute labels rows
    # identically, so NO localCheckpoint (see _time_chunk; the pre-r5
    # sampled-range labels forced a full materialization per call)
    tc = _time_chunk(unioned, "__ts", n)
    if tc is None:
        return asof_join(
            left, right, keys, left_ts, right_ts, value_cols,
            tolerance_s, tiebreak,
        )
    chunk, _lo, _width = tc
    d = unioned.withColumn("__pid", chunk)
    w = (
        Window.partitionBy("__pid", *keys)
        .orderBy(F.col("__ts").asc(), F.col("__is_right").desc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = d.select(
        *left_cols,
        "__pid",
        "__is_right",
        F.unix_timestamp("__ts").alias("__l_epoch"),
        F.last("__r_epoch", ignorenulls=True).over(w).alias("__loc_epoch"),
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"__loc_{c}")
            for c in value_cols
        ],
    ).filter(F.col("__is_right") == 0)

    is_r = F.col("__is_right") == 1
    summ = d.groupBy("__pid", *keys).agg(
        F.max(
            F.when(is_r, F.struct(F.col("__ts"), F.col("__tb"), F.col("__r_epoch")))
        ).alias("__s_epoch"),
        *[
            F.max(
                F.when(
                    is_r & F.col(f"__v_{c}").isNotNull(),
                    F.struct(F.col("__ts"), F.col("__tb"), F.col(f"__v_{c}")),
                )
            ).alias(f"__s_{c}")
            for c in value_cols
        ],
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summ.select(
        F.col("__pid").alias("__c_pid"),
        *[F.col(k).alias(f"__ck{i}") for i, k in enumerate(keys)],
        F.last("__s_epoch", ignorenulls=True).over(w_prev)["__r_epoch"].alias("__c_epoch"),
        *[
            F.last(f"__s_{c}", ignorenulls=True).over(w_prev)[f"__v_{c}"].alias(f"__c_{c}")
            for c in value_cols
        ],
    )
    joined = local.join(carry, _carry_cond(keys), "left")
    out = joined.select(
        *left_cols,
        "__l_epoch",
        F.coalesce("__loc_epoch", "__c_epoch").alias("__m_epoch"),
        *[
            F.coalesce(f"__loc_{c}", f"__c_{c}").alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    return _asof_finalize(out, left_cols, value_cols, tolerance_s)


def forward_fill(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    limit: int | None = None,
) -> DataFrame:
    """Carry the last non-null observation forward, optionally at most
    ``limit`` rows past it (pandas ``ffill(limit=...)``): the staleness
    bound sensor pipelines use so a dead source stops reporting its
    last reading after N grid steps. The reference's read-back path
    exposes the same shape via its fill-value handling over the regular
    temporal grid (``/root/reference/src/c3s_sm/interface.py`` read
    methods return the mask-filled series downstream code forward-fills).

    Adds ``<value_col>_ffill``. Leading nulls stay null (nothing to
    carry); with ``limit=None`` every interior/trailing null is filled.

    Plan: one hash shuffle on ``keys``, one per-key sort shared by both
    window passes (row_number + the running last/max run in the same
    sort order) — the same single-shuffle contract as every window
    operator in this module. Requires a total order: ``ts_col`` must be
    unique per key (pre-aggregate to the grid first), else the carry is
    partition-order-dependent.
    """
    keys = list(keys)
    if limit is not None and limit < 1:
        raise ValueError(f"limit must be >= 1 or None, got {limit}")
    v = F.col(value_col)
    tmp = df.withColumn(
        "__rn",
        F.row_number().over(Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())),
    )
    # the carry window orders by ts (the SAME order __rn encodes) so
    # Catalyst collapses both windows onto one per-key sort; ordering by
    # the derived __rn would force a second sort of the same data
    wb = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last(v, ignorenulls=True).over(wb)
    if limit is None:
        filled = F.coalesce(v, carried)
    else:
        last_nn = F.max(F.when(v.isNotNull(), F.col("__rn"))).over(wb)
        filled = F.when(v.isNotNull(), v).otherwise(
            F.when(F.col("__rn") - last_nn <= F.lit(limit), carried)
        )
    return tmp.withColumn(f"{value_col}_ffill", filled).drop("__rn")


def lag_corr_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    lag: int = 1,
) -> DataFrame:
    """Exact integer pieces of the lag-k autocorrelation per key — the
    first ACF coefficient, the standard "is this series momentum or
    noise" probe (and the health check a training pipeline runs on
    per-source volume/quality series: white-noise daily token counts and
    strongly autocorrelated ones need different drift thresholds).

    Pairs ``x = v_t`` with ``y = v_{t-lag}`` (rows whose lag falls off
    the series start drop out, pandas ``autocorr`` semantics) and emits
    the same BIGINT sum pieces as :func:`paired_validation` — ``n_matched
    sx sy sxy sxx syy`` — so :func:`validation_scores` turns them into
    the float r with zero new float surface. ``value_col`` must already
    be integer-scaled; the overflow bound is paired_validation's
    (``n * max|v|^2 < 2^63``) — feed centi/1e-4 units, not micro.

    Plan: one hash shuffle on ``keys``, the lag and the sums in one
    per-key sort, then a map-side-combinable groupBy that reuses the
    window's partitioning. Requires unique ``ts_col`` per key.
    """
    keys = list(keys)
    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    x = F.col(value_col).cast("long")
    pl = df.withColumn("__y", F.lag(x, lag).over(w)).filter(
        F.col("__y").isNotNull() & x.isNotNull()
    )
    y = F.col("__y")
    return pl.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
    )


def rolling_median2(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    window_rows: int,
    out_col: str = "med2",
) -> DataFrame:
    """Exact rolling median over a trailing ``window_rows``-row frame,
    emitted DOUBLED (``med2 = 2 * median``) so integer (micro-unit)
    inputs stay exactly integral: an even-count median is the midpoint
    of two BIGINTs, and ``2 * midpoint = a + b`` is exact in float64 up
    to 2^53 — the doubled value hashes bit-stably on every engine while
    a ``x.5`` double would be at the mercy of each engine's formatting.

    Exactness at scale: unlike a whole-group exact percentile (X12,
    which buffers every group value), the frame bounds the working set
    at ``window_rows`` values per row — memory is O(window), not
    O(series), at any series length. Cost is O(n * window log window)
    per key; for large windows switch to the mergeable sketch path
    (X24) and accept the approximation.
    """
    keys = list(keys)
    if window_rows < 1:
        raise ValueError(f"window_rows must be >= 1, got {window_rows}")
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc())
        .rowsBetween(-(window_rows - 1), 0)
    )
    med = F.percentile(F.col(value_col), F.lit(0.5)).over(w)
    return df.withColumn(out_col, (med * 2).cast("long"))


def paa_symbols(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    frame_rows: int,
    alphabet: int = 4,
) -> DataFrame:
    """Piecewise Aggregate Approximation + equal-width symbolization —
    the SAX-style series compressor (Lin/Keogh 2003) a 100 TB telemetry
    tier uses to turn raw series into short symbol strings for motif
    mining and cheap similarity pre-filters.

    Each key's time-ordered rows are grouped into fixed
    ``frame_rows``-row frames; a frame is summarized by its mean, then
    discretized into one of ``alphabet`` equal-width bins between the
    KEY's own min and max value. Classic SAX uses Gaussian-quantile
    breakpoints on z-scored values — two float surfaces (mean/std and
    the breakpoint compare) that would make a cross-engine value hash a
    coin flip at bin boundaries. This variant keeps every comparison in
    BIGINT cross-multiplication: with ``s = sum(v)`` over a frame of
    ``n`` rows and key extrema ``lo/hi``,

        symbol = floor( (s - lo*n) * alphabet / ((hi - lo) * n) )

    clamped to ``alphabet - 1`` (the max-mean frame lands exactly on the
    upper edge), and 0 when ``hi == lo`` (constant series). Exact in
    int64 for micro-unit inputs: ``|s| * alphabet <= n * max|v| * a``
    — feed 1e-4-scaled units like :func:`lag_corr_pieces`.

    Plan: ONE hash shuffle on ``keys``; the frame id comes from a
    per-key ``row_number`` sort, the key extrema from the same
    partitioning (``min/max over the unframed window``), then a
    map-side-combinable groupBy on (keys, frame) that reuses the
    shuffle. Hot-key bound: one key's series sorts in one task — the
    same contract as every order-dependent operator in this module.
    """
    keys = list(keys)
    if frame_rows < 1:
        raise ValueError(f"frame_rows must be >= 1, got {frame_rows}")
    if alphabet < 2:
        raise ValueError(f"alphabet must be >= 2, got {alphabet}")
    wo = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    wk = Window.partitionBy(*keys)
    v = F.col(value_col).cast("long")
    staged = df.withColumn(
        "__frame",
        ((F.row_number().over(wo) - F.lit(1)) / F.lit(frame_rows)).cast("long"),
    ).withColumn("__lo", F.min(v).over(wk)).withColumn("__hi", F.max(v).over(wk))
    agg = staged.groupBy(*keys, F.col("__frame").alias("frame")).agg(
        F.count(F.lit(1)).alias("n_in_frame"),
        F.sum(v).alias("v_sum"),
        F.first("__lo").alias("__lo"),
        F.first("__hi").alias("__hi"),
    )
    num = (F.col("v_sum") - F.col("__lo") * F.col("n_in_frame")) * F.lit(alphabet)
    den = (F.col("__hi") - F.col("__lo")) * F.col("n_in_frame")
    # num >= 0 and den > 0 on the non-constant branch, so truncating
    # `div` IS floor division — matching DuckDB's `//` on the oracle side.
    raw = F.expr("__num div __den")
    return (
        agg.withColumn("__num", num.cast("long"))
        .withColumn("__den", den.cast("long"))
        .withColumn(
            "symbol",
            F.when(F.col("__den") == 0, F.lit(0)).otherwise(
                F.least(raw, F.lit(alphabet - 1))
            ).cast("int"),
        )
        .select(*keys, "frame", "n_in_frame", "v_sum", "symbol")
    )


def interarrival_stats(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """Exact integer pieces of per-key inter-arrival statistics — the
    burstiness probe (CV of gaps: ~1 Poisson, >1 bursty, <1 regular)
    an event pipeline runs per source/user to pick drift thresholds and
    to spot scraper traffic (near-zero-variance arrival clocks).

    Emits per key: ``n_gaps``, ``gap_sum`` / ``gap_sq_sum`` (seconds,
    BIGINT — the float CV = std/mean derives outside the witness, the
    same split as :func:`lag_corr_pieces`), ``gap_min`` / ``gap_max``.
    Overflow bound: ``n * max_gap^2 < 2^63`` — a 30-year span (1e9 s)
    squared is 1e18, so series with year-scale gaps need the gap unit
    coarsened to minutes by the caller; sub-day cadences are safe to
    ~9e18 row-seconds.

    Plan: one hash shuffle on ``keys``, lag in one per-key sort, then a
    groupBy reusing the window's partitioning. Keys with a single event
    drop out (no gap), matching the SQL lag/filter oracle exactly.
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    sec = F.unix_timestamp(F.col(ts_col))
    gap = (sec - F.lag(sec, 1).over(w)).alias("__gap")
    staged = df.withColumn("__gap", gap).filter(F.col("__gap").isNotNull())
    g = F.col("__gap").cast("long")
    return staged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(g).alias("gap_sum"),
        F.sum(g * g).alias("gap_sq_sum"),
        F.min(g).alias("gap_min"),
        F.max(g).alias("gap_max"),
    )


def forecast_eval_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    season_lag: int = 7,
) -> DataFrame:
    """Exact integer pieces of a forecast backtest — the MASE-style
    "is anything smarter than persistence worth running here" triage a
    telemetry tier computes per series before fitting real models. Two
    zero-parameter baselines are evaluated in-sample: the seasonal
    naive (``v_{t-season_lag}``) and the plain naive (``v_{t-1}``);
    rows where EITHER lag falls off the series start drop out, so both
    error sums cover the identical row set and their ratio (the MASE
    numerator/denominator) is comparable. Emits per key: ``n_eval``,
    ``sae_seasonal`` / ``sae_naive`` (sums of absolute errors, BIGINT
    micro units — the float ratio derives outside the witness, the
    lag_corr_pieces split), ``max_ae_seasonal``.

    Plan: one hash shuffle on ``keys``, both lags in ONE per-key sort,
    then a map-side-combinable groupBy reusing the window partitioning.
    Requires unique ``ts_col`` per key (feed the daily pre-agg).
    """
    keys = list(keys)
    if season_lag < 2:
        raise ValueError(f"season_lag must be >= 2, got {season_lag}")
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    v = F.col(value_col).cast("long")
    staged = (
        df.withColumn("__sn", F.lag(v, season_lag).over(w))
        .withColumn("__nv", F.lag(v, 1).over(w))
        .filter(F.col("__sn").isNotNull() & F.col("__nv").isNotNull())
    )
    ae_s = F.abs(v - F.col("__sn"))
    ae_n = F.abs(v - F.col("__nv"))
    return staged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(ae_s).cast("long").alias("sae_seasonal"),
        F.sum(ae_n).cast("long").alias("sae_naive"),
        F.max(ae_s).cast("long").alias("max_ae_seasonal"),
    )


def threshold_runs(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    threshold: int,
) -> DataFrame:
    """Consecutive below-threshold run statistics per key — the
    "longest drought / outage streak" summary (the reference's drought
    consumers scan exactly these below-percentile runs over the rolled
    soil-moisture tiers). A run is a maximal set of CONSECUTIVE series
    rows (by ``ts_col`` order, not calendar adjacency — feed the
    gap-filled tier if calendar runs are wanted) with
    ``value < threshold``. Emits per key: ``n_runs``, ``max_run_len``,
    ``total_below``; keys with no below-threshold rows drop out.

    Plan: the gaps-and-islands double row_number (island id = rn over
    all rows minus rn over below-rows — constant within a consecutive
    below-run, distinct across runs), then two nested
    map-side-combinable groupBys. Everything reuses ONE hash shuffle on
    ``keys``: both window row_numbers share the same sort, and the
    island/key aggregations collapse map-side. value_col must be
    integer (micro units) so the threshold compare is exact.
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    v = F.col(value_col).cast("long")
    staged = (
        df.withColumn("__rn_all", F.row_number().over(w))
        .filter(v < F.lit(threshold))
        .withColumn("__rn_below", F.row_number().over(w))
        .withColumn("__island", F.col("__rn_all") - F.col("__rn_below"))
    )
    runs = staged.groupBy(*keys, "__island").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return runs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("__len").cast("long").alias("max_run_len"),
        F.sum("__len").cast("long").alias("total_below"),
    )


def funnel_times(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
) -> DataFrame:
    """Ordered funnel matching: for each key, the earliest time each
    step completes GIVEN the previous step completed strictly before it
    (the standard product-analytics funnel; a user who clicks before
    ever viewing does not count as past step 2). Emits per key:
    ``step{i}_ep`` epoch seconds (BIGINT, -1 where the funnel stalled —
    the gate's NULL-sentinel discipline) and ``n_steps`` completed.

    Semantics: step 1 time is ``min(ts where type = steps[0])``; step
    i+1 time is ``min(ts where type = steps[i+1] and ts > step_i
    time)``. Strict inequality: same-timestamp step pairs do not chain
    (deterministic regardless of tie order).

    Plan: one conditional min-aggregation per step (map-side combine —
    the exchange carries at most one row per key per task, never raw
    events — so a mega-key fan page cannot hot-spot a task the way a
    whole-partition window would), each joined back on the SAME key
    columns. Each iteration consumes the running funnel frame TWICE
    (the next step's gating join + the final assembly), and the
    slightly-different projections defeat ReuseExchange, so the frame
    is eagerly ``localCheckpoint``-ed per step — without it a 3-step
    funnel re-runs the step-1 aggregate twice (measured: 6 shuffles /
    7 scans vs the minimal 3 + len(steps) scans). The checkpoint is
    one (keys, step epochs) row per key that reached step 1 —
    ~40 bytes/key in executor-local storage at any corpus scale.
    """
    keys = list(keys)
    if len(steps) < 2:
        raise ValueError(f"need >= 2 steps, got {len(steps)}")
    ep = F.unix_timestamp(F.col(ts_col))
    base = df.select(*keys, ep.alias("__ep"), F.col(type_col).alias("__ty"))
    cur = base.filter(F.col("__ty") == steps[0]).groupBy(*keys).agg(
        F.min("__ep").alias("step1_ep")
    )
    for i, step in enumerate(steps[1:], start=2):
        # consumed twice below; checkpoint so each step runs ONCE
        cur = cur.localCheckpoint()
        prev = f"step{i-1}_ep"
        nxt = (
            base.filter(F.col("__ty") == step)
            .join(cur.select(*keys, prev), keys)
            .filter(F.col("__ep") > F.col(prev))
            .groupBy(*keys)
            .agg(F.min("__ep").alias(f"step{i}_ep"))
        )
        cur = cur.join(nxt, keys, "left")
    n_steps = sum(
        F.when(F.col(f"step{i}_ep").isNotNull(), 1).otherwise(0)
        for i in range(1, len(steps) + 1)
    )
    return cur.select(
        *keys,
        *[
            F.coalesce(F.col(f"step{i}_ep"), F.lit(-1))
            .cast("long")
            .alias(f"step{i}_ep")
            for i in range(1, len(steps) + 1)
        ],
        n_steps.cast("int").alias("n_steps"),
    )


def cohort_retention(
    df: DataFrame,
    key: str,
    ts_col: str,
    grain: str = "day",
) -> DataFrame:
    """Cohort-retention triangle: keys grouped by their first-activity
    period (``grain`` = "day" or "month"), counted in every later
    period they return — the standard "does the user base decay" panel.
    Emits ``(cohort_period timestamp, period_offset int, n_users
    bigint)``; the offset-0 row is the cohort size itself.

    Period arithmetic is an exact integer index — days since epoch, or
    ``year*12 + month`` — never float months_between, so the offset is
    engine-independent.

    Plan: first-activity min per key (one hash shuffle on ``key``),
    distinct (key, period) activity on the same partitioning, one
    key-equi-join, then the (cohort, offset) count — distinct keys per
    period by construction, so ``count(*)``, no count-distinct state.
    """
    ts = F.col(ts_col)
    if grain == "day":
        idx = F.datediff(ts.cast("date"), F.lit("1970-01-01").cast("date"))
        trunc = F.date_trunc("day", ts)
    elif grain == "month":
        idx = (F.year(ts) * 12 + F.month(ts)).cast("int")
        trunc = F.date_trunc("month", ts)
    else:
        raise ValueError(f"grain must be 'day' or 'month', got {grain!r}")
    first = df.groupBy(key).agg(
        F.min(trunc).alias("cohort_period"),
        F.min(idx).alias("__c_idx"),
    )
    acts = df.select(key, idx.alias("__a_idx")).distinct()
    return (
        acts.join(first, key)
        .groupBy(
            "cohort_period",
            (F.col("__a_idx") - F.col("__c_idx")).cast("int").alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


def mad_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Robust per-key outlier screen: median / MAD (median absolute
    deviation) instead of mean / stddev — the X11 z-score's
    heavy-tail-safe sibling (one wild sensor spike inflates a stddev
    enough to mask every other spike; it moves a median barely at all).
    The classic robust rule ``|v - median| > k * MAD`` (Hampel
    identifier; k=3 ~ "very conservative" in Leys et al. 2013).

    Everything on the hash boundary stays BIGINT via the doubled-units
    trick (:func:`rolling_median2`): for integer inputs the median is
    the midpoint of two BIGINTs, so ``med2 = 2*median`` and
    ``dev2_i = |2*v_i - med2|`` are exact integers, and
    ``mad4 = 2*median(dev2) = 4*MAD`` again exact. The outlier test
    ``|v - med| > k*MAD`` becomes the pure-integer compare
    ``2*dev2_i > k*mad4``. Feed micro-unit longs (1e-4 scaling like
    :func:`lag_corr_pieces`); headroom is ``4*max|v|`` — far inside
    int64 for any physical telemetry range.

    Plan: ONE hash shuffle on ``keys``; both medians are
    whole-partition window aggregates over the same partitioning, and
    the final groupBy reuses it (no second shuffle). Exactness bound:
    a whole-key exact median buffers that key's values in its task —
    the same O(series)-per-task contract as X12's exact percentile;
    at 10^12 rows with hot keys, route to the mergeable sketch (X24)
    and accept approximation, exactly as the X12 docstring prescribes.

    Emits per key: ``n`` (BIGINT), ``med2`` (2x median), ``mad4``
    (4x MAD), ``n_outliers`` (BIGINT count under the Hampel rule).
    """
    keys = list(keys)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wk = Window.partitionBy(*keys)
    v = F.col(value_col).cast("long")
    staged = df.withColumn(
        "__med2", (F.percentile(v, F.lit(0.5)).over(wk) * 2).cast("long")
    ).withColumn("__dev2", F.abs(v * 2 - F.col("__med2")))
    staged = staged.withColumn(
        "__mad4", (F.percentile(F.col("__dev2"), F.lit(0.5)).over(wk) * 2).cast("long")
    )
    return staged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("__med2").alias("med2"),
        F.first("__mad4").alias("mad4"),
        F.sum(
            F.when(F.col("__dev2") * 2 > F.lit(k) * F.col("__mad4"), 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


def sax_transitions(
    symbols: DataFrame,
    keys: Sequence[str],
    frame_col: str = "frame",
    symbol_col: str = "symbol",
) -> DataFrame:
    """First-order Markov transition counts over a symbolized series —
    the standard consumer of :func:`paa_symbols` output (Lin/Keogh
    2003 SAX): motif mining, regime-change scoring, and anomaly
    detection all start from "how often does symbol a follow symbol
    b". A telemetry tier runs this corpus-wide to learn the normal
    transition matrix, then flags series whose own transitions have
    low likelihood under it.

    Emits the global matrix ``(sym_from int, sym_to int, n_trans
    bigint)`` — at alphabet size a it has at most a^2 rows, so the
    final aggregate is a trivially small shuffle regardless of corpus
    size. Deterministic: the frame id from ``paa_symbols`` is a unique
    per-key ordinal, so the lag order never ties.

    Plan: when fed directly from ``paa_symbols`` the lag window adds
    NO exchange — the symbol relation is still hash-partitioned on
    ``keys`` (Catalyst's subset rule: HashPartitioning(keys)
    satisfies the frame-agg's ClusteredDistribution(keys+frame) and
    this window's, so only a partition-local Sort runs) — then a
    map-side-combinable groupBy on the (from, to) pair collapses
    partial counts to ≤ a^2 rows per task BEFORE the tiny final
    exchange (verified executed plan, PLANS.md X79-X81 notes).
    """
    keys = list(keys)
    wo = Window.partitionBy(*keys).orderBy(F.col(frame_col).asc())
    lagd = symbols.withColumn(
        "__prev", F.lag(F.col(symbol_col)).over(wo)
    ).filter(F.col("__prev").isNotNull())
    return lagd.groupBy(
        F.col("__prev").cast("int").alias("sym_from"),
        F.col(symbol_col).cast("int").alias("sym_to"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_trans"))


def seasonal_decompose_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ord_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal-decomposition pieces (the
    moving-average decomposition behind every STL/X-11-style seasonal
    screen, and the seasonality stage of the reference's
    drought-index-style climatology rollups — c3s_sm computes monthly
    climatology anomalies the same subtract-the-trend way): per key
    and per cycle slot, the EXACT integer sum of period-denominated
    detrended values.

    For each row with a FULL row-centered window of ``period``
    consecutive observations (``period`` odd; the classical centered
    MA), the detrended value in period-denominated units is
    ``period * v - window_sum`` — exactly integral, no division on the
    witness. Slot is ``ord % period`` (e.g. epoch-day mod 7 = weekday
    for a daily series), so a gappy series still lands each
    observation in its true calendar slot. Emits per (keys, slot):

    - ``dt_sum``  = sum(period*v - wsum)  (BIGINT; the seasonal index
      in 1/(n*period)-denominated value units derives outside)
    - ``n_obs``   = contributing full-window rows (BIGINT)

    ``ord_col`` must be a non-negative integer ordinal, unique per
    key (a daily pre-agg guarantees both), so the window order is
    deterministic and ``%`` matches ANSI ``%`` for non-negative
    operands.

    Plan: fed from a daily pre-agg the whole chain adds ONE exchange —
    the window repartitions the (small, already-combined) daily rows
    on ``keys``, and the final (keys, slot) groupBy's
    ClusteredDistribution is satisfied by that same HashPartitioning
    (subset rule), so it aggregates exchange-free. Edge rows (window
    shorter than ``period``) are excluded, exactly as the classical
    decomposition leaves the MA undefined there.
    """
    keys = list(keys)
    if period < 3 or period % 2 == 0:
        raise ValueError(f"period must be odd and >= 3, got {period}")
    half = (period - 1) // 2
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ord_col).asc())
        .rowsBetween(-half, half)
    )
    v = F.col(value_col)
    full = (
        df.withColumn("__wsum", F.sum(v).over(w))
        .withColumn("__wn", F.count(F.lit(1)).over(w))
        .filter(F.col("__wn") == period)
    )
    return full.groupBy(
        *keys,
        F.pmod(F.col(ord_col), F.lit(period)).cast("int").alias("slot"),
    ).agg(
        F.sum(F.lit(period) * v - F.col("__wsum"))
        .cast("long")
        .alias("dt_sum"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
    )


def m4_downsample(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    t_start: int,
    t_end: int,
    n_buckets: int = 240,
) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): split
    the query range into ``n_buckets`` equal-width pixels and keep,
    per (key, bucket), the four rows a pixel-perfect line rendering
    needs — first, last, min and max. Unlike LTTB (perceptual,
    sequential — our rows-only sibling) M4 is a pure GROUP BY, error-
    bounded for line charts, and embarrassingly parallel: ONE
    map-side-combined hash aggregate, each task collapsing to
    <= |keys| x n_buckets rows of six BIGINTs before the only shuffle.

    ``ts_col``/``value_col`` must be integer (epoch seconds /
    micro-units); rows outside [t_start, t_end] are dropped (the
    chart's range IS the filter). ``ts`` must be unique per key (a
    daily/resampled series), making first/last exact. Tie rules,
    deterministic on both engines via lexicographic struct extrema:
    ``t_min`` = EARLIEST ts attaining the bucket minimum, ``t_max`` =
    LATEST ts attaining the maximum.

    Emits ``(keys..., bucket int, t_first, v_first, t_last, v_last,
    v_min, t_min, v_max, t_max)`` — all BIGINT.
    """
    if t_end < t_start:
        raise ValueError(f"t_end {t_end} < t_start {t_start}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    keys = list(keys)
    t = F.col(ts_col)
    v = F.col(value_col)
    span = t_end - t_start + 1
    # integral div (never float /): exact at any epoch magnitude,
    # non-negative operands after the range filter
    fr = df.filter((t >= t_start) & (t <= t_end)).withColumn(
        "__bnum", (t - F.lit(t_start)).cast("long") * n_buckets
    )
    bucket = F.expr(f"__bnum div {span}")
    g = fr.groupBy(*keys, bucket.cast("int").alias("bucket")).agg(
        F.min(F.struct(t.alias("t"), v.alias("v"))).alias("__f"),
        F.max(F.struct(t.alias("t"), v.alias("v"))).alias("__l"),
        F.min(F.struct(v.alias("v"), t.alias("t"))).alias("__mn"),
        F.max(F.struct(v.alias("v"), t.alias("t"))).alias("__mx"),
    )
    return g.select(
        *keys,
        "bucket",
        F.col("__f.t").cast("long").alias("t_first"),
        F.col("__f.v").cast("long").alias("v_first"),
        F.col("__l.t").cast("long").alias("t_last"),
        F.col("__l.v").cast("long").alias("v_last"),
        F.col("__mn.v").cast("long").alias("v_min"),
        F.col("__mn.t").cast("long").alias("t_min"),
        F.col("__mx.v").cast("long").alias("v_max"),
        F.col("__mx.t").cast("long").alias("t_max"),
    )


def cooccurrence_lift_pieces(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    gap_s: int = 1800,
) -> DataFrame:
    """Within-session event co-occurrence lift pieces (market-basket
    over :func:`sessionize` sessions): for every unordered type pair
    ``a < b``, how many sessions contain BOTH vs what independence
    predicts — ``lift = n_sessions * joint / (m_a * m_b)``, emitted as
    its exact BIGINT pieces ``(type_a, type_b, joint, m_a, m_b,
    n_sessions)`` with the float ratio derived outside any witness.
    The recommendation/affinity primitive ("users who view X in a
    session also purchase Y").

    Plan: sessionize (one key shuffle), then the DISTINCT
    (key, session, type) basket — eagerly ``localCheckpoint``-ed
    because FOUR consumers read it (marginals, session count, both
    self-join sides; the funnel lesson: differing projections defeat
    ReuseExchange). The self-join explodes each session to its own
    type pairs — bounded by |types|^2 per session, with the pair
    aggregate map-side-combining to <= |types|^2 rows per task before
    its exchange. Marginals and the session-count scalar are
    |types|-row / 1-row broadcasts. Everything downstream of the
    basket is counts of counts — no corpus-sized shuffle anywhere
    past the distinct.
    """
    sess = sessionize(
        df.select(key, ts_col, type_col), key, ts_col, gap_s
    )
    basket = (
        sess.select(key, "session_seq", F.col(type_col).alias("t"))
        .distinct()
        .localCheckpoint()
    )
    ns = (
        basket.select(key, "session_seq")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    marg = basket.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    x, y = basket.alias("x"), basket.alias("y")
    joint = (
        x.join(y, [key, "session_seq"])
        .filter(F.col("x.t") < F.col("y.t"))
        .groupBy(
            F.col("x.t").alias("type_a"), F.col("y.t").alias("type_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("joint"))
    )
    ma = marg.select(F.col("t").alias("type_a"), F.col("m").alias("m_a"))
    mb = marg.select(F.col("t").alias("type_b"), F.col("m").alias("m_b"))
    return (
        joint.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(ns))
        .select("type_a", "type_b", "joint", "m_a", "m_b", "n_sessions")
    )


def rolling_distinct(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Sliding-window distinct count (rolling active users — the WAU/
    MAU family) as the dedupe-then-fan-out pattern, because a windowed
    ``COUNT(DISTINCT)`` frame does not exist in Spark (and a per-day
    self-join of day ranges is a range join the optimizer turns into
    broadcast-nested-loop). For each window end day ``w_end`` the
    result counts the distinct keys active in ``[w_end - window_days
    + 1, w_end]``.

    Plan shape, in scan order: (1) project to ``(key, day)`` and
    pre-DISTINCT — this is the ONLY corpus-sized exchange, with
    partial (map-side) dedup, collapsing 10^12 events to at most
    ``|keys| * |days|`` rows; (2) explode each survivor to the
    ``window_days`` window-ends it feeds (task-local fan-out of a
    deduped frame — at 10^9 key-days and a 7-day window this is 7e9
    rows of two narrow columns, NOT 7x the raw corpus); (3) clip
    trailing partial windows past the corpus max day via a
    broadcast 1-row cross join (no driver collect); (4) exact
    ``count_distinct`` per window end — Catalyst expands it to the
    standard two-phase (w_end, key) partial agg, so no single reducer
    sees a whole window's key set. Leading partial windows (ends
    before min_day + window_days - 1) ARE emitted, covering what data
    exists — the standard dashboard convention; callers wanting only
    full windows filter on ``w_end``.

    Emits ``(w_end date, active long, key_days long)`` — ``key_days``
    is the window's total key-day mass (active-days volume), sharing
    the fan-out frame. All-BIGINT witness. At 10^9+ keys per window
    the exact count's shuffle is the contract price; the approximate
    sibling is the HLL-sketch path (see ``vocab_growth_hll``), which
    drops the (w_end, key) expansion entirely.

    Reference parity: the reference counts valid observations per
    regular temporal-grid period when building its products
    (``/root/reference/src/c3s_sm/reshuffle.py`` drives per-period
    stacks; A2 valid-obs counting) — this is that coverage metric
    generalized to sliding windows over an irregular event stream.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    days = df.select(
        F.col(key).alias("k"), F.to_date(F.col(ts_col)).alias("d")
    ).distinct()
    mx = days.agg(F.max("d").alias("__mxd"))
    fan = days.select(
        "k",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
        ).alias("w_end"),
    )
    return (
        fan.join(F.broadcast(mx))
        .where(F.col("w_end") <= F.col("__mxd"))
        .groupBy("w_end")
        .agg(
            F.count_distinct("k").cast("long").alias("active"),
            F.count(F.lit(1)).cast("long").alias("key_days"),
        )
    )


def scd2_intervals(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Build slowly-changing-dimension type-2 validity intervals (X94)
    from a change-event stream: per key, consecutive events carrying
    identical attribute values collapse into one interval, and each
    true change opens a new one — the dimension-history primitive every
    warehouse load runs, and the tokens-corpus form of "which metadata
    state was in force when this sequence was ingested".

    Emits ``keys... + attr_cols... + valid_from, valid_to, version``:
    ``valid_from`` = the change event's timestamp, ``valid_to`` = the
    NEXT change's timestamp (NULL for the current interval — the
    half-open ``[from, to)`` convention), ``version`` = 1-based per-key
    interval ordinal. A change is any attribute differing from its
    predecessor under null-safe semantics (NULL -> value and value ->
    NULL are both changes); the first event per key always opens
    version 1. Same-timestamp events need ``tiebreak`` for a
    deterministic order (the sort is ``(ts, tiebreak)``).

    Plan: one hash exchange on ``keys``, then ONE per-key sort shared
    by all three window passes (lag flags, lead valid_to, row_number
    version — identical window spec, Catalyst plans a single Sort +
    Window chain), and a filter between them. Order-dependent by
    nature, so the per-key-series-fits-a-task bound documented in the
    module header applies — the same contract as sessionize/asof.
    """
    keys = list(keys)
    attr_cols = list(attr_cols)
    if not keys or not attr_cols:
        raise ValueError("keys and attr_cols must be non-empty")
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    changed = F.row_number().over(w) == 1
    for c in attr_cols:
        # IS DISTINCT FROM lag == NOT (a <=> lag)
        changed = changed | ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
    cp = df.withColumn("__chg", changed).where(F.col("__chg"))
    return cp.select(
        *keys,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
    )


def lateness_profile(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    arrival_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Out-of-order arrival profile (X95): how late do events arrive
    relative to the event-time high-water mark already seen on their
    key? This is THE input for sizing a Structured Streaming watermark
    (``withWatermark`` threshold) and the allowed-lateness of the
    engine's tumbling/dedup streaming operators — measured from data
    instead of guessed.

    ``arrival_col`` orders events by arrival (an ingest sequence /
    offset / file ordinal; monotone per key). Per key, in arrival
    order, an event's lateness is ``max(ts of all EARLIER arrivals) -
    ts`` clamped at 0 — i.e. how far behind the key's running
    event-time frontier it landed; on-time events score 0. Aggregated
    per ``group_col`` (default: one global row): event count, late
    count, lateness sum and max (seconds, all BIGINT — the mean and
    any quantile cut derive outside the witness).

    Plan: one hash exchange on ``keys``, one per-key sort by arrival,
    a ROWS UNBOUNDED PRECEDING..1 PRECEDING running max (no self-join,
    no second pass), then a map-side-combined groupBy. The running max
    excludes the current row, so a fresh frontier event is never
    "late against itself"; the first arrival per key has an empty
    frame (NULL running max -> lateness 0).
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(arrival_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sec = F.unix_timestamp(F.col(ts_col))
    frontier = F.max(sec).over(w)
    late = F.greatest(F.coalesce(frontier - sec, F.lit(0)), F.lit(0)).cast(
        "long"
    )
    staged = df.withColumn("__late_s", late)
    gcols = [group_col] if group_col else []
    agg = staged.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("__late_s") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.sum("__late_s").cast("long").alias("late_sum_s"),
        F.max("__late_s").cast("long").alias("late_max_s"),
    )
    return agg


def trend_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    origin: str = "2024-01-01",
    scale: int = 10000,
) -> DataFrame:
    """Per-key OLS trend pieces (X98) — the drought-monitoring /
    drift-detection primitive "is this series going up or down, and how
    fast": the five exact integer sums from which slope and intercept
    derive, ``slope = (n*sxy - sx*sy) / (n*sxx - sx*sx)`` computed by
    the CALLER in float, outside the hash witness (the lag_corr_pieces
    split).

    ``x`` = whole days since ``origin`` (keep the origin near the data:
    day offsets stay small, so ``sxx`` and ``sxy`` stay far from 2^63 —
    with |x| <= 10^4, values <= 10^6 in 1e-4 units and 10^6 points per
    key the worst term is ~10^16); ``y`` = value in ``1/scale`` units
    rounded to integer. Multiple observations per day enter
    individually (OLS over points, not daily means — weighting by
    day-count is a caller policy, achievable by pre-rolling up).

    Plan: pure projection + ONE map-side-combined groupBy on the keys;
    no window, no sort, no second pass. Mergeable by construction —
    partial sums from incremental loads add, the same algebraic-state
    property the rollup tiers rely on.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    x = F.datediff(F.to_date(F.col(ts_col)), F.lit(origin).cast("date")).cast(
        "long"
    )
    y = F.round(F.col(value_col) * scale).cast("long")
    staged = df.select(*keys, x.alias("__x"), y.alias("__y"))
    return staged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").cast("long").alias("sx"),
        F.sum("__y").cast("long").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("long").alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("sxx"),
    )


def winsorize_pieces(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    alpha_milli: int = 50,
) -> DataFrame:
    """X110 rank-exact winsorization audit per key: clip thresholds at
    the α and (1-α) ORDER STATISTICS (never interpolated percentiles —
    the k-th smallest of a multiset is engine-invariant where every
    percentile interpolation rule is not), plus the per-key pieces a
    clipping pass needs: how many values each tail would clamp and the
    post-clip sum.

    ``alpha_milli`` is α in thousandths (50 = 5%); ``k_lo =
    ceil(α·n)`` via the non-negative integer form ``(α_milli·n + 999)
    div 1000`` and ``k_hi = n + 1 - k_lo`` — n=1 degenerates to
    lo = hi = the value, clipping nothing, by construction. Clip
    counts compare VALUES (``x < lo``, ``x > hi``), not ranks, so
    ties at the threshold are never counted as clipped (tie-safe on
    both engines). Values should already be integral (micro-units —
    the mad_outliers convention); all outputs are BIGINT.

    Plan: ONE hash exchange on the keys + ONE per-key sort feeding the
    rank window; the threshold extraction is two more window passes
    over the SAME partitioning (no new exchange — conditional max over
    the unbounded frame); the final groupBy reuses the partitioning.

    Output: ``(keys..., n, lo, hi, n_clip_lo, n_clip_hi,
    sum_clipped)``.
    """
    if not 0 < alpha_milli < 500:
        raise ValueError("alpha_milli must be in (0, 500)")
    ks = list(keys)
    v = F.col(value_col).cast("long")
    wp = Window.partitionBy(*ks)
    staged = df.select(*ks, v.alias("__v")).select(
        *ks,
        "__v",
        F.row_number().over(
            Window.partitionBy(*ks).orderBy("__v")
        ).alias("__rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("__n"),
    )
    k_lo = F.expr(f"({alpha_milli}L * __n + 999L) div 1000L")
    k_hi = F.col("__n") + 1 - k_lo
    marked = staged.select(
        *ks,
        "__v",
        "__n",
        F.max(F.when(F.col("__rn") == k_lo, F.col("__v"))).over(wp).alias("__lo"),
        F.max(F.when(F.col("__rn") == k_hi, F.col("__v"))).over(wp).alias("__hi"),
    )
    clipped = F.greatest(F.least(F.col("__v"), F.col("__hi")), F.col("__lo"))
    return marked.groupBy(*ks).agg(
        F.max("__n").cast("long").alias("n"),
        F.max("__lo").cast("long").alias("lo"),
        F.max("__hi").cast("long").alias("hi"),
        F.sum(F.when(F.col("__v") < F.col("__lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_clip_lo"),
        F.sum(F.when(F.col("__v") > F.col("__hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_clip_hi"),
        F.sum(clipped).cast("long").alias("sum_clipped"),
    )


def km_pieces(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    start_type: str = "signup",
    end_type: str = "purchase",
    type_col: str = "event_type",
    unit_s: int = 86400,
) -> DataFrame:
    """X118 Kaplan-Meier conversion-lag pieces (time-to-event with
    right-censoring — retention/conversion analysis done correctly:
    ignoring users who HAVEN'T converted yet biases every naive lag
    average): per subject, t0 = first ``start_type`` event, the event
    time = first ``end_type`` AT OR AFTER t0; subjects with no
    qualifying end event are CENSORED at the data horizon (the global
    max event time). Emits one row per duration bucket ``d`` (in
    ``unit_s`` units since t0): ``(d, n_events, n_censored)`` — all
    BIGINT; the survival curve S(d) = Π(1 - e/r) with at-risk
    r(d) = total - Σ_{d'<d}(e+c) derives caller-side (the
    lag_corr_pieces split — products never sit on a hash boundary).

    Epoch arithmetic is non-negative by construction (end ≥ t0,
    horizon ≥ t0), so ``div`` == ANSI ``//``. Plan: two key-keyed
    map-side-combined groupBys (first-start, first-qualifying-end) +
    one broadcast 1-row horizon + one duration groupBy. No window.
    """
    ep = F.unix_timestamp(ts_col)
    t0 = (
        df.where(F.col(type_col) == start_type)
        .groupBy(key)
        .agg(F.min(ep).cast("long").alias("__t0"))
    )
    horizon = df.agg(F.max(ep).cast("long").alias("__hz"))
    ends = df.where(F.col(type_col) == end_type).select(
        key, ep.cast("long").alias("__te")
    )
    te = (
        t0.join(ends, key)
        .where(F.col("__te") >= F.col("__t0"))
        .groupBy(key)
        .agg(F.min("__te").alias("__te"))
    )
    per = (
        t0.join(te, key, "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.col("__te").isNotNull().alias("__conv"),
            F.expr(
                f"CASE WHEN __te IS NOT NULL THEN (__te - __t0) div {unit_s}L"
                f" ELSE (__hz - __t0) div {unit_s}L END"
            ).alias("d"),
        )
    )
    return per.groupBy("d").agg(
        F.sum(F.when(F.col("__conv"), 1).otherwise(0))
        .cast("long")
        .alias("n_events"),
        F.sum(F.when(~F.col("__conv"), 1).otherwise(0))
        .cast("long")
        .alias("n_censored"),
    )


def km_curve(pieces: DataFrame) -> list[tuple[int, float]]:
    """Kaplan-Meier survival curve from :func:`km_pieces` output — a
    driver-side product over duration buckets (bucket-count-sized by
    contract). Returns ``[(d, S(d)), ...]`` sorted by d."""
    rows = sorted(
        (r["d"], r["n_events"], r["n_censored"]) for r in pieces.collect()
    )
    total = sum(e + c for _, e, c in rows)
    s, at_risk, out = 1.0, total, []
    for d, e, c in rows:
        if at_risk > 0 and e:
            s *= 1.0 - e / at_risk
        at_risk -= e + c
        out.append((d, s))
    return out


def rank_sum_pieces(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """X120 Mann-Whitney/Wilcoxon rank-sum pieces — the nonparametric
    two-sample test ("did the value distribution shift between
    variants/sources?") that, unlike a t-test, survives the heavy
    tails every real metric has. Exact integer witness: with
    average-rank tie handling, every element of a tied value block
    has 2·avgrank = 2·minrank + c − 1 (an INTEGER), so the doubled
    rank sum ``rs2_a = Σ_A 2·avgrank`` and the tie-correction mass
    ``Σ(c³ − c)`` are BIGINT-exact; U and the normal z derive
    caller-side (U = rs2_a/2 − n_a(n_a+1)/2; the /2 is exact because
    rs2_a and n_a(n_a+1) share parity).

    minrank(v) = 1 + Σ_{v'<v} c(v') comes from a TWO-PHASE cumulative
    sum over the per-value count frame (range-partition on value →
    per-partition running sum → partition-offset map), never a
    one-task global window — the eqfreq_hist discipline applied to
    cumulative counts. Output: one row ``(n_a, n_b, rs2_a,
    tie_sum)``.
    """
    p = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == group_a).alias("ia"),
    )
    counts = p.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long").alias("ca"),
    )
    from c3s_sm_spark.operators.sampling import global_cumsum

    ranked = global_cumsum(counts, "v", ["c"]).withColumnRenamed(
        "cum_c", "before"
    )
    return ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum(F.col("c") - F.col("ca")).cast("long").alias("n_b"),
        F.sum(
            F.col("ca")
            * (2 * (F.col("before") + 1) + F.col("c") - 1)
        )
        .cast("long")
        .alias("rs2_a"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_sum"),
    )


def ks_pieces(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """X121 two-sample Kolmogorov-Smirnov pieces — the distribution-
    shape companion to :func:`rank_sum_pieces` (rank-sum detects
    location shifts; KS detects ANY ECDF divergence). The statistic is
    kept exactly integral: ``D = max_v |F_a(v) − F_b(v)| = d_num /
    (n_a·n_b)`` where ``d_num = max |inc_a(v)·n_b − inc_b(v)·n_a|``
    over inclusive per-value cumulative counts — products of BIGINTs,
    no float until the caller divides. Output: one row ``(n_a, n_b,
    d_num)``.

    Cumulatives come from the shared two-phase :func:`~c3s_sm_spark.
    operators.sampling.global_cumsum` (range partition → local running
    sums → offset map), evaluated only at observed values — ECDF
    differences between observations are constant, so the max over
    observed points IS the max.
    """
    p = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == group_a).alias("ia"),
    )
    counts = p.groupBy("v").agg(
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~F.col("ia"), 1).otherwise(0)).cast("long").alias("cb"),
    )
    from c3s_sm_spark.operators.sampling import global_cumsum

    cum = global_cumsum(counts, "v", ["ca", "cb"])
    totals = counts.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    inc_a = F.col("cum_ca") + F.col("ca")
    inc_b = F.col("cum_cb") + F.col("cb")
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "n_a",
            "n_b",
            F.abs(inc_a * F.col("n_b") - inc_b * F.col("n_a")).alias("__d"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("__d").cast("long").alias("d_num"))
    )


def triple_collocation_pieces(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """X126 triple collocation, pieces mode: the reference domain's
    hallmark validation technique — given three INDEPENDENT collocated
    estimates of the same signal (satellite / model / in-situ soil
    moisture in the reference's ecosystem; three labelling sources or
    quality scorers in a training-data pipeline), estimate each
    source's error variance WITHOUT ground truth (Stoffelen 1998;
    McColl et al. 2014 extended TC). The reference's read-back series
    (``/root/reference/src/c3s_sm/interface.py`` per-GPI frames) are
    exactly what downstream TC validation consumes.

    Emits per key the EXACT BIGINT moment pieces — ``n, sx, sy, sz,
    sxx, syy, szz, sxy, sxz, syz`` — from integer-scaled inputs; every
    float (covariances, error variances, SNR) derives caller-side in
    :func:`triple_collocation_scores`, so the cross-engine witness
    never touches float summation order. Overflow bound is
    paired_validation's: ``n * max|v|^2 < 2^63`` per group — feed
    1e-4-scaled units, not micro.

    Plan: one map-side-combinable hash aggregate on ``keys`` — no
    window, no join; at 10^12 rows this is a single shuffle of
    10-longs-per-group partials. Use :func:`asof_join` twice (or
    :func:`collocate3`) upstream to temporally match the three sources
    first.
    """
    keys = list(keys)
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    z = F.col(z_col).cast("long")
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(z).cast("long").alias("sz"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(z * z).cast("long").alias("szz"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * z).cast("long").alias("sxz"),
        F.sum(y * z).cast("long").alias("syz"),
    )


def triple_collocation_scores(pieces: DataFrame, scale: int = 10000) -> DataFrame:
    """Turn :func:`triple_collocation_pieces` into the classic TC
    estimates, as a plain projection (no shuffle; floats appear only
    here, outside any cross-engine witness):

    - ``err_var_x = Qxx - Qxy*Qxz/Qyz`` (and cyclic for y, z), in
      UNSCALED squared units (divided by ``scale**2``);
    - ``snr_x_db = -10*log10(Qxx*Qyz/(Qxy*Qxz) - 1)`` (McColl 2014),
      dimensionless.

    Estimates are null when the paired covariance in the denominator
    is <= 0 (sources uncorrelated or anti-correlated — TC's
    independence/linearity assumptions are violated and the estimator
    is undefined, matching pytesmo's nan behavior). Error variances
    can come out slightly negative on sampling noise for very quiet
    sources; they are reported as-is (standard practice — callers
    clamp if they need a variance).
    """
    n = F.col("n").cast("double")
    s2 = float(scale) * float(scale)
    sx, sy, sz = [F.col(c).cast("double") for c in ("sx", "sy", "sz")]
    sxx, syy, szz = [F.col(c).cast("double") for c in ("sxx", "syy", "szz")]
    sxy, sxz, syz = [F.col(c).cast("double") for c in ("sxy", "sxz", "syz")]
    # n^2-scaled covariances: Q_ab * n^2 = n*sab - sa*sb.  Ratios of
    # two Qs are scale-free, so err_var (one Q times a Q-ratio) only
    # needs a single 1/n^2 correction.
    qxx = n * sxx - sx * sx
    qyy = n * syy - sy * sy
    qzz = n * szz - sz * sz
    qxy = n * sxy - sx * sy
    qxz = n * sxz - sx * sz
    qyz = n * syz - sy * sz

    def _ev(qaa: Column, qab: Column, qac: Column, qbc: Column) -> Column:
        return F.when(
            qbc > 0, (qaa - qab * qac / qbc) / (n * n) / s2
        )

    def _snr(qaa: Column, qab: Column, qac: Column, qbc: Column) -> Column:
        ratio = qaa * qbc / (qab * qac) - 1
        return F.when((qab * qac > 0) & (ratio > 0), -10 * F.log10(ratio))

    return pieces.select(
        "*",
        _ev(qxx, qxy, qxz, qyz).alias("err_var_x"),
        _ev(qyy, qxy, qyz, qxz).alias("err_var_y"),
        _ev(qzz, qxz, qyz, qxy).alias("err_var_z"),
        _snr(qxx, qxy, qxz, qyz).alias("snr_x_db"),
        _snr(qyy, qxy, qyz, qxz).alias("snr_y_db"),
        _snr(qzz, qxz, qyz, qxy).alias("snr_z_db"),
    )


def collocate3(
    base: DataFrame,
    second: DataFrame,
    third: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    value_cols: tuple[str, str, str] = ("x", "y", "z"),
    tolerance_s: int | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Temporal collocation of three sources for TC: as-of match
    ``second`` then ``third`` onto ``base``'s timestamps (nearest at or
    before, within ``tolerance_s``), keeping only rows where BOTH
    matches exist. Two key-partitioned as-of joins — the same
    one-shuffle-each plan as :func:`asof_join`; output columns are
    ``keys + [ts_col, x, y, z]`` ready for
    :func:`triple_collocation_pieces`.
    """
    keys = list(keys)
    xc, yc, zc = value_cols
    m2 = (
        asof_join(
            base.select(*keys, ts_col, xc), second.select(*keys, ts_col, yc),
            keys, left_ts=ts_col, right_ts=ts_col, value_cols=[yc],
            tolerance_s=tolerance_s, tiebreak=tiebreak,
        )
        .filter(F.col(f"asof_{yc}").isNotNull())
        # project away asof_age_s before the second join re-emits it
        .select(*keys, ts_col, xc, F.col(f"asof_{yc}").alias(yc))
    )
    m3 = asof_join(
        m2, third.select(*keys, ts_col, zc),
        keys, left_ts=ts_col, right_ts=ts_col, value_cols=[zc],
        tolerance_s=tolerance_s, tiebreak=tiebreak,
    )
    return (
        m3.filter(F.col(f"asof_{zc}").isNotNull())
        .select(*keys, ts_col, xc, yc, F.col(f"asof_{zc}").alias(zc))
    )


def mann_kendall_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """X127 Mann-Kendall trend test, pieces mode: the standard
    nonparametric monotone-trend significance test for climate series
    (Mann 1945; Kendall 1975) — is this GPI's soil-moisture series (or
    this source's daily token-count series) drifting, robustly to
    outliers and without assuming linearity?

    Per key, with the series in canonical ``(ts, tiebreak)`` order,
    emits EXACT BIGINT pieces:

    - ``n`` — series length;
    - ``n_pos / n_neg / n_zero`` — pair sign counts over all i<j pairs
      (``sgn(v_j - v_i)``);
    - ``s`` — the MK statistic ``n_pos - n_neg``;
    - ``tie_term`` — ``sum over tied-value groups of t(t-1)(2t+5)``;
    - ``var18`` — ``n(n-1)(2n+5) - tie_term`` (18*Var(S), exactly
      integral).

    Floats (z statistic, p-value, Sen's slope) derive caller-side via
    :func:`mann_kendall_scores` / :func:`sen_slope` — the witness never
    divides. Values must be integers (pre-scale floats).

    Plan + bound: the per-key ordered map (module docstring) — pair
    counting is vectorized numpy (O(n^2) work, O(n) memory). For
    series beyond ~10^5 points use the parametric ``trend`` pieces
    (one pass) or pre-aggregate to a coarser grain first.
    """
    import numpy as np
    import pandas as pd

    keys = list(keys)
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    out_schema = (
        f"{key_ddl(df, keys)}, n long, n_pos long, n_neg long, "
        "n_zero long, s long, tie_term long, var18 long"
    )

    def _one(kv, rows: pd.DataFrame) -> pd.DataFrame:
        v = rows["__v"].to_numpy(np.int64)
        n = len(v)
        pos = neg = 0
        for i in range(n - 1):
            d = v[i + 1:] - v[i]
            pos += int((d > 0).sum())
            neg += int((d < 0).sum())
        npairs = n * (n - 1) // 2
        _, counts = np.unique(v, return_counts=True)
        t = counts.astype(np.int64)
        tie_term = int((t * (t - 1) * (2 * t + 5)).sum())
        var18 = n * (n - 1) * (2 * n + 5) - tie_term
        return pd.DataFrame([{
            **dict(zip(keys, kv)), "n": n, "n_pos": pos, "n_neg": neg,
            "n_zero": npairs - pos - neg, "s": pos - neg,
            "tie_term": tie_term, "var18": var18,
        }])

    prepared = df.select(
        *keys, *order, F.col(value_col).cast("long").alias("__v")
    )
    return per_key_ordered_map(prepared, keys, order, _one, out_schema)


def mann_kendall_scores(pieces: DataFrame) -> DataFrame:
    """MK z statistic and two-sided normal p-value from
    :func:`mann_kendall_pieces` — plain projection, floats only here.
    ``z = (S - sgn(S)) / sqrt(var18/18)`` (continuity-corrected);
    null when n < 3 or Var(S) == 0 (constant series).
    ``p = erfc(|z| / sqrt(2))`` — the exact two-sided normal tail."""
    s = F.col("s").cast("double")
    var = F.col("var18").cast("double") / 18.0
    z = F.when(
        (F.col("n") >= 3) & (F.col("var18") > 0),
        (s - F.signum(s)) / F.sqrt(var),
    )
    out = pieces.withColumn("__z", z)
    # two-sided p = erfc(|z|/sqrt(2)); Spark SQL has no erfc, so use the
    # Abramowitz & Stegun 7.1.26 rational approximation (|err| < 1.5e-7
    # in erf, which is far below any significance-threshold decision).
    ax = F.abs(F.col("__z")) / math.sqrt(2.0)
    t = 1.0 / (1.0 + 0.3275911 * ax)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
    )
    p = poly * F.exp(-ax * ax)
    return out.select(
        "*",
        F.col("__z").alias("z"),
        F.when(F.col("__z").isNotNull(), p).alias("p_value"),
    ).drop("__z")


def sen_slope(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    x_unit_s: int = 86400,
    tiebreak: str | None = None,
) -> DataFrame:
    """Sen's slope (Theil-Sen estimator, Sen 1968): per key, the median
    of all pairwise slopes ``(v_j - v_i) / (x_j - x_i)`` — the robust
    trend-magnitude companion to :func:`mann_kendall_pieces`'s
    significance test. ``x`` is the epoch timestamp divided by
    ``x_unit_s`` (default days), so the slope reads "value units per
    day". Pairs with zero time difference are excluded (standard
    practice; scipy ``theilslopes`` semantics, float median like scipy
    — float output -> pytest-pinned against brute force, never
    hash-oracled). Same O(n^2)-per-key vectorized-numpy bound as the
    MK kernel, on the same per-key ordered map."""
    import numpy as np
    import pandas as pd

    keys = list(keys)
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    out_schema = f"{key_ddl(df, keys)}, n_slopes long, slope double"
    unit = float(x_unit_s)

    def _one(kv, rows: pd.DataFrame) -> pd.DataFrame:
        v = rows["__v"].to_numpy(np.int64)
        x = rows["__x"].to_numpy(np.int64)
        n = len(v)
        slopes = []
        for i in range(n - 1):
            dx = x[i + 1:] - x[i]
            dy = v[i + 1:] - v[i]
            m = dx != 0
            if m.any():
                slopes.append(dy[m].astype(np.float64) * unit / dx[m])
        head = dict(zip(keys, kv))
        if not slopes:
            return pd.DataFrame([{**head, "n_slopes": 0, "slope": None}])
        allsl = np.concatenate(slopes)
        return pd.DataFrame([{
            **head,
            "n_slopes": int(len(allsl)),
            "slope": float(np.median(allsl)),
        }])

    prepared = df.select(
        *keys, *order,
        F.col(value_col).cast("long").alias("__v"),
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("__x"),
    )
    return per_key_ordered_map(prepared, keys, order, _one, out_schema)


def allan_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    ms: Sequence[int] = (4, 16, 64),
    tiebreak: str | None = None,
) -> DataFrame:
    """X128 Allan variance, pieces mode: the classic instrument-
    stability metric (Allan 1966; IEEE 1139) — at which averaging time
    does this sensor's noise stop averaging down and start drifting?
    The same curve profiles any high-rate series' stability: satellite
    radiometer streams in the reference's domain, per-source ingest
    rates or loss curves in a training pipeline.

    Non-overlapping estimator over ROW-index bins (canonical
    ``(ts, tiebreak)`` order): bin k = rows ``[k*m, (k+1)*m)``; only
    COMPLETE bins (count == m) participate (standard tail drop);
    ``AVAR(m*tau0) = sum (S_{k+1}-S_k)^2 / (2 * n_pairs * m^2)`` over
    ADJACENT complete bins. Emits, per key and per ``m`` — all exact
    BIGINT: ``m, n_bins, n_pairs, dsum2`` (the sum of squared adjacent
    bin-sum differences). The float AVAR/ADEV derive caller-side in
    :func:`allan_scores`. Values must be integer-scaled.

    Overflow bound: ``n_pairs * (2 * m * max|v|)^2 < 2^63``.

    Plan: one hash shuffle on ``keys`` feeds every ``m`` (one
    row-number sort reused); per ``m``, a map-side-combinable bin
    groupBy then a tiny per-key lag window over ~n/m bin rows. All
    JVM built-ins — no Python in the path.
    """
    keys = list(keys)
    ms = list(ms)
    if not ms or any(m < 2 for m in ms):
        raise ValueError(f"ms must be ints >= 2, got {ms}")
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    base = df.select(
        *keys, ts_col, *([tiebreak] if tiebreak else []),
        F.col(value_col).cast("long").alias("__v"),
    ).withColumn("__r", F.row_number().over(w) - 1)

    outs = []
    for m in ms:
        per_bin = (
            base.withColumn("__bin", (F.col("__r") / m).cast("long"))
            .groupBy(*keys, "__bin")
            .agg(
                F.sum("__v").cast("long").alias("__bs"),
                F.count(F.lit(1)).alias("__bc"),
            )
            .filter(F.col("__bc") == m)
        )
        wb = Window.partitionBy(*keys).orderBy(F.col("__bin").asc())
        lagged = per_bin.select(
            *keys,
            "__bin",
            "__bs",
            F.lag("__bin").over(wb).alias("__pb"),
            F.lag("__bs").over(wb).alias("__ps"),
        )
        d = F.col("__bs") - F.col("__ps")
        pair_ok = F.col("__pb") == F.col("__bin") - 1
        outs.append(
            lagged.groupBy(*keys).agg(
                F.lit(m).cast("long").alias("m"),
                F.count(F.lit(1)).cast("long").alias("n_bins"),
                F.sum(F.when(pair_ok, 1).otherwise(0))
                .cast("long")
                .alias("n_pairs"),
                F.coalesce(
                    F.sum(F.when(pair_ok, d * d)), F.lit(0)
                ).cast("long").alias("dsum2"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def allan_scores(
    pieces: DataFrame, scale: int = 10000, tau0_s: float = 1.0
) -> DataFrame:
    """Float Allan variance / deviation from :func:`allan_pieces` —
    plain projection: ``avar = dsum2 / (2 * n_pairs * m^2 * scale^2)``,
    ``adev = sqrt(avar)``, ``tau_s = m * tau0_s``. Null when no
    adjacent complete-bin pair exists."""
    m = F.col("m").cast("double")
    npair = F.col("n_pairs").cast("double")
    s2 = float(scale) * float(scale)
    avar = F.when(
        F.col("n_pairs") > 0,
        F.col("dsum2").cast("double") / (2.0 * npair * m * m * s2),
    )
    return pieces.select(
        "*",
        avar.alias("avar"),
        F.sqrt(avar).alias("adev"),
        (m * F.lit(float(tau0_s))).alias("tau_s"),
    )


def ccf_pieces(
    x_df: DataFrame,
    y_df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    x_col: str,
    y_col: str,
    lags: Sequence[int] = tuple(range(-7, 8)),
) -> DataFrame:
    """X129 cross-correlation function, pieces mode: does series Y lead
    or lag series X, and by how much? (Does satellite soil moisture lag
    rainfall by k days; do error events lead signups down by a week;
    does a source's quality dip precede its volume dip?) Standard CCF
    at integer lags — ``r(lag) = corr(x_t, y_{t+lag})``.

    Inputs are two aligned integer-indexed series frames (``t_col`` an
    integer grid index — day number, hour number; build with
    ``datediff``/``unix_timestamp`` upstream) with integer-scaled
    values. For every ``lag`` the y frame is shifted ``t -> t - lag``
    (so it joins x at ``x_t`` vs ``y_{t+lag}``) via one
    ``explode(lags)`` — then ONE equi-join on ``keys + t`` and one
    map-side-combinable groupBy emit, per ``keys + lag``, the exact
    BIGINT pieces ``n_matched sx sy sxy sxx syy`` (the
    :func:`paired_validation` contract — feed to
    :func:`validation_scores` for the float r; argmax-lag is a trivial
    caller-side reduce). Only t-points present in BOTH series at that
    lag participate (pandas ``Series.corr`` on shifted-join semantics).

    Plan: the lag fan-out is a ``|lags|``-way row multiplier on the y
    side only; both sides then shuffle ONCE on ``(keys, t)``; the
    groupBy on ``(keys, lag)`` is a second small shuffle of
    piece-partials. No window, no per-key series bound — this one
    scales to any series length.
    """
    keys = list(keys)
    lags = list(lags)
    if not lags:
        raise ValueError("lags must be non-empty")
    x = x_df.select(
        *keys,
        F.col(t_col).cast("long").alias("__t"),
        F.col(x_col).cast("long").alias("__x"),
    )
    y = y_df.select(
        *keys,
        F.explode(F.array(*[F.lit(int(l)) for l in lags])).alias("lag"),
        F.col(t_col).cast("long").alias("__ty"),
        F.col(y_col).cast("long").alias("__y"),
    ).withColumn("__t", F.col("__ty") - F.col("lag"))
    j = x.join(y, on=keys + ["__t"] if keys else ["__t"], how="inner")
    xc, yc = F.col("__x"), F.col("__y")
    return j.groupBy(*keys, "lag").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum(xc).cast("long").alias("sx"),
        F.sum(yc).cast("long").alias("sy"),
        F.sum(xc * yc).cast("long").alias("sxy"),
        F.sum(xc * xc).cast("long").alias("sxx"),
        F.sum(yc * yc).cast("long").alias("syy"),
    )


def holt_smooth(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    out_level: str = "holt_level",
    out_trend: str = "holt_trend",
    n_partitions: int | None = None,
) -> DataFrame:
    """X130 Holt linear-trend (double exponential) smoothing per key —
    the one-step-ahead level+trend tracker EWMA can't be when the
    series drifts (Holt 1957; statsmodels ``Holt(initialization_method=
    'legacy-heuristic'`` analog with simple first-two-points init):

    ``l_t = alpha*v_t + (1-alpha)*(l_{t-1} + b_{t-1})``
    ``b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}``

    initialized ``l_0 = v_0``, ``b_0 = v_1 - v_0`` (``b_0 = 0`` for
    one-point series). Appends ``out_level`` and ``out_trend``.

    A numpy recurrence per key on the per-key ordered map (module
    docstring), so the float recurrence is deterministic under any
    cluster partitioning. Order-recursive by nature -> rows-only (no
    ANSI-SQL twin); pinned against a pure-python reference loop in
    pytest.
    """
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    if not (0 < alpha <= 1) or not (0 <= beta <= 1):
        raise ValueError(f"need 0<alpha<=1, 0<=beta<=1, got {alpha}, {beta}")
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_level, DoubleType()), StructField(out_trend, DoubleType())]
    )

    def _holt_one(v: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
        n = len(v)
        lev = np.empty(n, dtype=np.float64)
        tr = np.empty(n, dtype=np.float64)
        lev[0] = v[0]
        tr[0] = (v[1] - v[0]) if n > 1 else 0.0
        for t in range(1, n):
            prev = lev[t - 1]
            lev[t] = alpha * v[t] + (1 - alpha) * (prev + tr[t - 1])
            tr[t] = beta * (lev[t] - prev) + (1 - beta) * tr[t - 1]
        return lev, tr

    def _holt(_, rows):
        lev, tr = _holt_one(rows[value_col].to_numpy(np.float64))
        return rows.assign(**{out_level: lev, out_trend: tr})

    return per_key_ordered_map(
        df, keys, [ts_col], _holt, out_schema, n_partitions
    )


def periodogram_pieces(
    df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    value_col: str,
    harmonics: Sequence[tuple[int, int]] = ((24, 1), (168, 1)),
    fp_scale: int = 10**6,
) -> DataFrame:
    """X132 periodogram at rational frequencies, pieces mode: spectral
    power of an integer-grid series at frequency ``k/P`` cycles per
    grid step — the "does this series have a daily / weekly cycle"
    probe (diurnal satellite sampling artifacts in the reference's
    domain; weekday traffic cycles in a pipeline's volume series).

    The DFT terms ``cos/sin(2*pi*k*t/P)`` repeat with period ``P`` on
    an integer grid, so they come from a ``P``-row FIXED-POINT lookup
    table computed ONCE in Python (``round(fp_scale * cos(...))``) and
    broadcast-joined on ``t mod P`` — neither engine evaluates a
    transcendental, so the witness has no last-ulp risk and every
    piece is an exact BIGINT:

    ``n, sv`` (value sum), ``sc = sum v*C[t%P]``, ``ss = sum v*S[t%P]``
    (with ``S`` the NEGATED sine — the ``e^{-2 pi i f t}`` convention),
    and ``csum/ssum`` (table sums over observed rows, for caller-side
    mean-centering). :func:`periodogram_scores` derives the float
    power. Overflow bound: ``n * max|v| * fp_scale < 2^63``.

    Plan: one small literal table (sum of P values across harmonics),
    broadcast hash join — no shuffle on the fact side until the final
    map-side-combinable groupBy on ``keys + (P, k)``.
    """
    import math

    keys = list(keys)
    reserved = {"P", "k", "n", "sv", "sc", "ss", "csum", "ssum"}
    clash = reserved.intersection(keys)
    if clash:
        raise ValueError(f"key columns collide with outputs: {sorted(clash)}")
    harmonics = [(int(p), int(k)) for p, k in harmonics]
    if not harmonics or any(p < 2 or k < 1 or k >= p for p, k in harmonics):
        raise ValueError(f"need P>=2, 1<=k<P, got {harmonics}")
    spark = df.sparkSession
    rows = []
    for p, k in harmonics:
        for r in range(p):
            ang = 2.0 * math.pi * k * r / p
            rows.append(
                (p, k, r,
                 int(round(fp_scale * math.cos(ang))),
                 int(round(-fp_scale * math.sin(ang))))
            )
    lut = spark.createDataFrame(
        rows, "__P long, __k long, __r long, __c long, __s long"
    )
    # fan the fact side out by harmonic (|harmonics| copies), compute
    # the phase r = t mod P on the left, then a pure EQUI-join on
    # (P, k, r) — BroadcastHashJoin, never a nested-loop predicate join
    hh = F.explode(
        F.array(*[
            F.struct(F.lit(p).cast("long").alias("P"),
                     F.lit(k).cast("long").alias("k"))
            for p, k in harmonics
        ])
    ).alias("__h")
    fanned = (
        df.select(
            *keys,
            F.col(t_col).cast("long").alias("__t"),
            F.col(value_col).cast("long").alias("__v"),
        )
        .select(*keys, "__t", "__v", hh)
        .select(
            *keys, "__v",
            F.col("__h.P").alias("__P"),
            F.col("__h.k").alias("__k"),
            F.pmod(F.col("__t"), F.col("__h.P")).alias("__r"),
        )
        .join(F.broadcast(lut), on=["__P", "__k", "__r"], how="inner")
    )
    v = F.col("__v")
    return (
        fanned.groupBy(*keys, "__P", "__k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).cast("long").alias("sv"),
            F.sum(v * F.col("__c")).cast("long").alias("sc"),
            F.sum(v * F.col("__s")).cast("long").alias("ss"),
            F.sum("__c").cast("long").alias("csum"),
            F.sum("__s").cast("long").alias("ssum"),
        )
        .withColumnRenamed("__P", "P")
        .withColumnRenamed("__k", "k")
    )


def periodogram_scores(
    pieces: DataFrame, scale: int = 1, fp_scale: int = 10**6
) -> DataFrame:
    """Float spectral power from :func:`periodogram_pieces` — plain
    projection. Mean-centered: ``a = (sc - mean*csum) / fp``,
    ``b = (ss - mean*ssum) / fp``, ``power = (a^2 + b^2) / n`` in
    unscaled value units squared (the standard periodogram
    normalization I(f) up to the 1/(2 pi) convention)."""
    n = F.col("n").cast("double")
    fp = float(fp_scale)
    s = float(scale)
    mean = F.col("sv").cast("double") / n
    a = (F.col("sc").cast("double") - mean * F.col("csum").cast("double")) / fp / s
    b = (F.col("ss").cast("double") - mean * F.col("ssum").cast("double")) / fp / s
    return pieces.select(
        "*",
        F.when(n > 0, (a * a + b * b) / n).alias("power"),
    )


def rolling_regression_pieces(
    df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    value_col: str,
    window_rows: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """X133 rolling OLS pieces: per row, the exact BIGINT regression
    sums of the trailing ``window_rows``-row frame — the "local trend
    right now" tracker (is soil moisture declining over the last 7
    observations; is a source's quality sliding this week?) that the
    whole-series :func:`X96 trend <lag_corr_pieces>` pieces can't see.

    Appends ``rn`` (frame row count), ``rsx, rsy, rsxy, rsxx`` (exact
    sums over the frame of the integer time index ``t_col``, the
    integer-scaled value, their product, and t^2). The float slope
    ``(rn*rsxy - rsx*rsy) / (rn*rsxx - rsx^2)`` derives caller-side in
    :func:`rolling_regression_scores`. Keep ``t_col`` SMALL (a day /
    hour grid index, not raw epoch seconds): the witness squares it.

    Plan: one hash shuffle on ``keys``, one sort, all four sums in one
    window pass — JVM codegen end to end, O(window) state per row.
    """
    keys = list(keys)
    if window_rows < 2:
        raise ValueError(f"window_rows must be >= 2, got {window_rows}")
    order = [F.col(t_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-(window_rows - 1), 0)
    )
    x = F.col(t_col).cast("long")
    y = F.col(value_col).cast("long")
    return df.select(
        "*",
        F.count(F.lit(1)).over(w).alias("rn"),
        F.sum(x).over(w).cast("long").alias("rsx"),
        F.sum(y).over(w).cast("long").alias("rsy"),
        F.sum(x * y).over(w).cast("long").alias("rsxy"),
        F.sum(x * x).over(w).cast("long").alias("rsxx"),
    )


def rolling_regression_scores(pieces: DataFrame) -> DataFrame:
    """Float rolling slope from :func:`rolling_regression_pieces` —
    plain projection; null while the frame has < 2 rows or zero
    t-variance (duplicate t values filling the frame)."""
    n = F.col("rn").cast("double")
    sx, sy = F.col("rsx").cast("double"), F.col("rsy").cast("double")
    sxy, sxx = F.col("rsxy").cast("double"), F.col("rsxx").cast("double")
    den = n * sxx - sx * sx
    return pieces.select(
        "*",
        F.when((F.col("rn") >= 2) & (den > 0), (n * sxy - sx * sy) / den)
        .alias("rslope"),
    )


def block_maxima_lmoment_pieces(
    df: DataFrame,
    keys: Sequence[str],
    block_col: str,
    value_col: str,
) -> DataFrame:
    """X134 extreme-value analysis, pieces mode: block maxima + exact
    L-moment sums — the classical route to return periods ("the
    drought/flood level exceeded once in T years"; the tail-risk
    summary of any operational series: worst daily latency per week,
    max document length per shard). Hosking 1990 L-moments are linear
    in the ORDER STATISTICS, so unlike ordinary central moments they
    have exact integer pieces: with the per-key block maxima sorted
    ascending and ranked ``i = 1..n``,

    - ``s0 = sum x_(i)``,
    - ``s1 = sum (i-1) * x_(i)``,
    - ``s2 = sum (i-1)(i-2) * x_(i)``,

    all BIGINT-exact (rank weights are invariant under tie order: tied
    values are interchangeable). ``b0 = s0/n``, ``b1 = s1/(n(n-1))``,
    ``b2 = s2/(n(n-1)(n-2))`` and the L-moments ``l1 = b0``,
    ``l2 = 2*b1 - b0``, ``l3 = 6*b2 - 6*b1 + b0`` derive caller-side
    in :func:`gumbel_return_levels`.

    Plan: one map-side-combinable groupBy for the block maxima
    (corpus-sized shuffle of (key, block) partials), then a per-key
    rank window over the BLOCK-COUNT-sized frame (tiny — n blocks per
    key, not n observations) and a final groupBy reusing the same
    partitioning.
    """
    keys = list(keys)
    bm = df.groupBy(*keys, F.col(block_col).alias("__blk")).agg(
        F.max(F.col(value_col).cast("long")).alias("__x")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("__x").asc(), F.col("__blk").asc()
    )
    ranked = bm.withColumn("__i", F.row_number().over(w).cast("long"))
    i1 = F.col("__i") - 1
    i2 = F.col("__i") - 2
    x = F.col("__x")
    return ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("s0"),
        F.sum(i1 * x).cast("long").alias("s1"),
        F.sum(i1 * i2 * x).cast("long").alias("s2"),
    )


def gumbel_return_levels(
    pieces: DataFrame,
    return_periods: Sequence[float] = (10.0, 100.0),
    scale: int = 1,
) -> DataFrame:
    """Gumbel (EV1) fit by L-moments from
    :func:`block_maxima_lmoment_pieces` — plain projection, floats
    only here: ``alpha = l2 / ln 2``, ``xi = l1 - gamma * alpha``
    (Euler-Mascheroni gamma), and per requested return period T the
    level ``rl_T = xi - alpha * ln(-ln(1 - 1/T))`` in unscaled value
    units. Null when n < 3 (L-moments undefined) or l2 <= 0."""
    import math

    gamma = 0.5772156649015329
    n = F.col("n").cast("double")
    s = float(scale)
    b0 = F.col("s0").cast("double") / n / s
    b1 = F.col("s1").cast("double") / (n * (n - 1)) / s
    l1, l2 = b0, 2 * b1 - b0
    ok = (F.col("n") >= 3) & (l2 > 0)
    alpha = l2 / math.log(2.0)
    xi = l1 - gamma * alpha
    cols = [
        F.when(ok, l1).alias("l1"),
        F.when(ok, l2).alias("l2"),
        F.when(ok, alpha).alias("gumbel_alpha"),
        F.when(ok, xi).alias("gumbel_xi"),
    ]
    for t in return_periods:
        if t <= 1:
            raise ValueError(f"return periods must be > 1, got {t}")
        y = -math.log(-math.log(1.0 - 1.0 / float(t)))
        cols.append(
            F.when(ok, xi + alpha * y).alias(f"rl_{int(t)}")
        )
    return pieces.select("*", *cols)


def hurst_rs_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    ms: Sequence[int] = (8, 16, 32, 64),
    tiebreak: str | None = None,
) -> DataFrame:
    """X136 rescaled-range (R/S) pieces for the Hurst exponent
    (Hurst 1951; Mandelbrot & Wallis 1969) — long-memory detection:
    H ~ 0.5 is memoryless noise, H > 0.5 persistent (wet months follow
    wet months — the signature behavior of soil-moisture series),
    H < 0.5 mean-reverting. ``R/S`` over windows of size ``m`` grows
    like ``m^H``.

    Per key, with rows in canonical ``(ts, tiebreak)`` order, windows
    are ROW-index blocks of size ``m`` (complete blocks only). Within
    a block with values ``v_1..v_m``, sum ``T`` and prefix sums
    ``C_i``: the mean-adjusted cumulative deviation is ``Y_i = C_i -
    i*T/m``, and ``m*Y_i = m*C_i - i*T`` is EXACTLY integral — so the
    emitted range ``rm = max(m*Y_i) - min(m*Y_i)`` is an exact BIGINT
    (``R = rm/m`` caller-side), alongside exact ``sv``/``sv2`` for the
    block std. One row per (keys, m, block). Floats (R/S, the log-log
    Hurst slope) derive in :func:`hurst_scores` /
    :func:`hurst_exponent`.

    Overflow bound: ``m^2 * max|v| < 2^63`` per block (``m*C_i`` terms).

    Plan: one row-number sort per key feeds every ``m``; per ``m``, a
    per-(key, block) cumsum window + one groupBy — JVM built-ins only;
    block frames are m rows, never the whole series.
    """
    keys = list(keys)
    ms = [int(m) for m in ms]
    if not ms or any(m < 4 for m in ms):
        raise ValueError(f"ms must be ints >= 4, got {ms}")
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    base = df.select(
        *keys, ts_col, *([tiebreak] if tiebreak else []),
        F.col(value_col).cast("long").alias("__v"),
    ).withColumn("__r", F.row_number().over(w) - 1)

    outs = []
    for m in ms:
        blocked = base.withColumn("__blk", (F.col("__r") / m).cast("long"))
        wb = Window.partitionBy(*keys, "__blk")
        wc = wb.orderBy(F.col("__r").asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        i = F.col("__r") - F.col("__blk") * m + 1
        annotated = blocked.select(
            *keys,
            "__blk",
            "__v",
            (m * F.sum("__v").over(wc) - i * F.sum("__v").over(wb))
            .alias("__my"),
            F.count(F.lit(1)).over(wb).alias("__bc"),
        ).filter(F.col("__bc") == m)
        outs.append(
            annotated.groupBy(*keys, "__blk").agg(
                F.lit(m).cast("long").alias("m"),
                (F.max("__my") - F.min("__my")).cast("long").alias("rm"),
                F.sum("__v").cast("long").alias("sv"),
                F.sum(F.col("__v") * F.col("__v")).cast("long").alias("sv2"),
            ).withColumnRenamed("__blk", "blk")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def hurst_scores(pieces: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Per (keys, m): the mean R/S over blocks (float — outside any
    witness). Blocks with zero variance (constant values) drop out,
    standard practice."""
    keys = list(keys)
    m = F.col("m").cast("double")
    r = F.col("rm").cast("double") / m
    var = F.col("sv2").cast("double") / m - (
        F.col("sv").cast("double") / m
    ) ** 2
    rs = F.when(var > 0, r / F.sqrt(var))
    return (
        pieces.withColumn("__rs", rs)
        .filter(F.col("__rs").isNotNull())
        .groupBy(*keys, "m")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.avg("__rs").alias("mean_rs"),
        )
    )


def hurst_exponent(scores: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Per keys: the Hurst exponent — OLS slope of ``log(mean_rs)`` on
    ``log(m)`` across the window scales (needs >= 2 scales; null
    otherwise). Plain aggregate, no collect."""
    keys = list(keys)
    x = F.log(F.col("m").cast("double"))
    y = F.log(F.col("mean_rs"))
    agg = scores.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    n = F.col("__n")
    den = n * F.col("__sxx") - F.col("__sx") ** 2
    h = F.when(
        (n >= 2) & (den > 0),
        (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den,
    )
    return agg.select(*keys, n.cast("long").alias("n_scales"), h.alias("hurst"))


def seasonal_mann_kendall_pieces(
    df: DataFrame,
    keys: Sequence[str],
    season_col: str,
    ts_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """X137 seasonal Mann-Kendall (Hirsch & Slack 1984): the MK test
    computed WITHIN each season (month-of-year, hour-of-day) and summed
    across seasons — the standard guard against a seasonal cycle
    masquerading as (or masking) a monotone trend in climate series.
    Under the null the seasonal S statistics are independent, so
    ``S' = sum_g S_g`` and ``Var(S') = sum_g Var(S_g)`` — both exact
    BIGINT sums of the per-season pieces. Emits per key: ``n_seasons``
    and the summed ``n, n_pos, n_neg, n_zero, s, tie_term, var18``;
    :func:`mann_kendall_scores` applies unchanged (its z/p read only
    ``n, s, var18``).

    Plan: the per-season kernel shuffle is on ``keys + season`` —
    MORE parallel than plain MK (each season is its own task), then a
    tiny piece-sum groupBy."""
    keys = list(keys)
    per = mann_kendall_pieces(
        df, keys + [season_col], ts_col, value_col, tiebreak=tiebreak
    )
    return per.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_seasons"),
        F.sum("n").cast("long").alias("n"),
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum("n_zero").cast("long").alias("n_zero"),
        F.sum("s").cast("long").alias("s"),
        F.sum("tie_term").cast("long").alias("tie_term"),
        F.sum("var18").cast("long").alias("var18"),
    )


def variogram_scores(pieces: DataFrame, scale: int = 1) -> DataFrame:
    """X138 temporal (semi)variogram from :func:`ccf_pieces` run with
    the SAME series on both sides at positive lags — the structure
    function ``gamma(h) = mean((v_{t+h} - v_t)^2) / 2`` (Matheron
    1963), the geostatistics-native way to read decorrelation length
    and nugget noise (the reference's satellite products lean on
    spatial variograms; the temporal twin profiles any series'
    smoothness). Plain projection: ``gamma = (sxx + syy - 2*sxy) /
    (2 * n * scale^2)`` — no new witness surface, the CCF pieces are
    already exact."""
    n = F.col("n_matched").cast("double")
    s2 = float(scale) * float(scale)
    g = (
        F.col("sxx").cast("double")
        + F.col("syy").cast("double")
        - 2.0 * F.col("sxy").cast("double")
    ) / (2.0 * n * s2)
    return pieces.select("*", F.when(n > 0, g).alias("gamma"))


def pettitt_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """X139 Pettitt change-point test, pieces mode (Pettitt 1979): the
    standard nonparametric single change-point detector for climate
    records — WHERE did this series' level shift, without assuming
    normality (the rank-based sibling of the CUSUM mean-shift screen,
    and the changepoint companion to Mann-Kendall's trend test).

    ``U_t = sum_{i<=t} sum_{j>t} sgn(x_j - x_i)``; statistic
    ``K = max_t |U_t|``, change point = first t attaining it. The
    naive form is O(n^2) pairs — but with whole-series MIDRANKS
    ``R_i`` the antisymmetric double sum collapses to the exact
    identity ``U_t = t*(n+1) - sum_{i<=t} 2*R_i`` (``2R_i = 2*rank_i
    + ties_i - 1`` is always integral), so the whole test is two
    window passes over the SAME key shuffle — rank-by-value, then
    cumulative-sum-by-time — pure JVM expressions, no Python, no
    quadratic anywhere, any series length.

    Emits per key, all exact BIGINT: ``n``, ``k_stat`` (K),
    ``t_split`` (1-based left-segment length at the first argmax),
    ``u_at_split`` (signed U there — sign says step down vs up).
    Significance ``p ~ 2*exp(-6K^2/(n^3+n^2))`` derives caller-side
    in :func:`pettitt_scores`. Series of length < 2 report zeros.
    """
    keys = list(keys)
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    v = F.col("__v")
    w_rank = Window.partitionBy(*keys).orderBy(v.asc())
    # ties counted on the SAME value-ordered window via an empty RANGE
    # frame (rows with equal order value) — no extra (keys, v) exchange
    w_val = w_rank.rangeBetween(0, 0)
    w_key = Window.partitionBy(*keys)
    w_time = Window.partitionBy(*keys).orderBy(*order)
    w_cum = w_time.rowsBetween(Window.unboundedPreceding, 0)

    prepared = df.select(
        *keys,
        ts_col,
        *([tiebreak] if tiebreak else []),
        F.col(value_col).cast("long").alias("__v"),
    )
    annotated = prepared.select(
        *keys,
        *[c for c in [ts_col] + ([tiebreak] if tiebreak else [])],
        "__v",
        (2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_val) - 1)
        .cast("long")
        .alias("__tworank"),
        F.count(F.lit(1)).over(w_key).cast("long").alias("__n"),
    )
    u = (
        F.col("__t") * (F.col("__n") + 1) - F.col("__cum2r")
    ).alias("__u")
    per_t = annotated.select(
        *keys,
        "__n",
        F.row_number().over(w_time).cast("long").alias("__t"),
        F.sum("__tworank").over(w_cum).cast("long").alias("__cum2r"),
    ).select(*keys, "__n", "__t", u).filter(F.col("__t") < F.col("__n"))
    pick = F.struct(
        (-F.abs(F.col("__u"))).alias("negk"), F.col("__t").alias("t")
    )
    out = per_t.groupBy(*keys).agg(
        F.max("__n").cast("long").alias("n"),
        F.max(F.abs(F.col("__u"))).cast("long").alias("k_stat"),
        F.min_by(F.col("__t"), pick).cast("long").alias("t_split"),
        F.min_by(F.col("__u"), pick).cast("long").alias("u_at_split"),
    )
    # length-1 (or empty-after-filter) series: report zeros rather than
    # dropping the key
    singles = (
        annotated.groupBy(*keys)
        .agg(F.max("__n").cast("long").alias("n"))
        .filter(F.col("n") < 2)
        .select(
            *keys, "n",
            F.lit(0).cast("long").alias("k_stat"),
            F.lit(0).cast("long").alias("t_split"),
            F.lit(0).cast("long").alias("u_at_split"),
        )
    )
    return out.unionByName(singles)


def pettitt_scores(pieces: DataFrame) -> DataFrame:
    """Approximate Pettitt significance from :func:`pettitt_pieces` —
    plain projection: ``p = min(1, 2*exp(-6K^2/(n^3+n^2)))``; null for
    n < 2."""
    n = F.col("n").cast("double")
    k = F.col("k_stat").cast("double")
    p = 2.0 * F.exp(-6.0 * k * k / (n * n * n + n * n))
    return pieces.select(
        "*",
        F.when(F.col("n") >= 2, F.least(F.lit(1.0), p)).alias("p_value"),
    )


def record_stats_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """X140 record statistics: how many RUNNING RECORDS (new all-time
    highs / lows) has this series set, and when was the last one? For
    a stationary exchangeable series the expected count is the
    harmonic number ``H_n ~ ln n + gamma`` regardless of the value
    distribution — so an excess of record highs is a distribution-free
    nonstationarity alarm (the record-count test used in climate-change
    detection; ops twin: "we keep setting new daily-peak records").

    A new high at t means ``v_t > max(v_1..v_{t-1})`` (strict; the
    first observation is by convention both a high and a low record).
    Emits per key, all exact BIGINT: ``n``, ``n_rec_high``,
    ``n_rec_low``, ``t_last_high``, ``t_last_low`` (1-based positions
    of the last records). The expected-count comparison derives
    caller-side in :func:`record_stats_scores`.

    Plan: one key shuffle, one sort, running min/max + row_number in a
    single window pass, then a map-side-combinable groupBy. Pure JVM.
    """
    keys = list(keys)
    order_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    order = [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    v = F.col("__v")
    annotated = df.select(
        *keys, F.col(value_col).cast("long").alias("__v"), *order_cols
    ).select(
        *keys,
        "__v",
        F.row_number().over(w).cast("long").alias("__t"),
        F.max("__v").over(wprev).alias("__pmax"),
        F.min("__v").over(wprev).alias("__pmin"),
    )
    is_high = F.col("__pmax").isNull() | (v > F.col("__pmax"))
    is_low = F.col("__pmin").isNull() | (v < F.col("__pmin"))
    return annotated.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias("n_rec_high"),
        F.sum(F.when(is_low, 1).otherwise(0)).cast("long").alias("n_rec_low"),
        F.max(F.when(is_high, F.col("__t"))).cast("long").alias("t_last_high"),
        F.max(F.when(is_low, F.col("__t"))).cast("long").alias("t_last_low"),
    )


def record_stats_scores(pieces: DataFrame) -> DataFrame:
    """Expected record count and excess ratios from
    :func:`record_stats_pieces` — plain projection. ``H_n`` is
    approximated by ``ln n + gamma + 1/(2n)`` (error < 1/(8n^2), far
    below the integer count's own granularity); excess_high =
    n_rec_high / H_n."""
    gamma = 0.5772156649015329
    n = F.col("n").cast("double")
    h = F.log(n) + gamma + 1.0 / (2.0 * n)
    return pieces.select(
        "*",
        F.when(F.col("n") > 0, h).alias("expected_records"),
        F.when(F.col("n") > 0, F.col("n_rec_high") / h).alias("excess_high"),
        F.when(F.col("n") > 0, F.col("n_rec_low") / h).alias("excess_low"),
    )


def runs_test_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """X141 Wald-Wolfowitz runs test, pieces mode: is the sequence of
    above/below-median excursions RANDOM, or does the series cluster
    (persistence) / alternate (negative feedback)? The classic
    distribution-free randomness check that complements X136's Hurst
    read with an actual significance test.

    Median = the LOWER median (value at ascending rank ``(n+1)//2`` —
    a concrete order statistic, deterministic in every engine
    regardless of tie order since only the VALUE at the position is
    read). Rows equal to the median are dropped (standard); the
    remaining rows classify above/below, and a RUN is a maximal
    same-class stretch in time order. Emits per key, exact BIGINT:
    ``n`` (kept rows), ``n_above``, ``n_below``, ``n_runs``. The
    normal approximation ``E[R] = 1 + 2ab/(a+b)``,
    ``Var[R] = 2ab(2ab-a-b)/((a+b)^2(a+b-1))`` and z derive
    caller-side in :func:`runs_test_scores`.

    Plan: one key shuffle; the median is a window aggregate over the
    value-ranked frame (no join back), the run boundaries a lag over
    the time-ordered frame — two sorts, one exchange, pure JVM.
    """
    keys = list(keys)
    order_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    w_rank = Window.partitionBy(*keys).orderBy(F.col("__v").asc())
    w_key = Window.partitionBy(*keys)
    w_time = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    v = F.col("__v")
    pos = (F.count(F.lit(1)).over(w_key) + 1) / 2
    ranked = df.select(
        *keys, F.col(value_col).cast("long").alias("__v"), *order_cols
    ).select(
        *keys, "__v", *order_cols,
        F.row_number().over(w_rank).alias("__rn"),
        F.floor(pos).cast("int").alias("__pos"),
    )
    with_med = ranked.select(
        *keys, "__v", *order_cols,
        F.min(F.when(F.col("__rn") == F.col("__pos"), v)).over(w_key)
        .alias("__med"),
    )
    kept = with_med.filter(v != F.col("__med")).select(
        *keys, *order_cols, (v > F.col("__med")).cast("int").alias("__sgn")
    )
    runs = kept.select(
        *keys,
        "__sgn",
        F.lag("__sgn").over(w_time).alias("__prev"),
    )
    new_run = F.col("__prev").isNull() | (F.col("__sgn") != F.col("__prev"))
    return runs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__sgn").cast("long").alias("n_above"),
        F.sum(1 - F.col("__sgn")).cast("long").alias("n_below"),
        F.sum(F.when(new_run, 1).otherwise(0)).cast("long").alias("n_runs"),
    )


def runs_test_scores(pieces: DataFrame) -> DataFrame:
    """Normal-approximation z and two-sided p for the runs test —
    plain projection (A&S erfc as in :func:`mann_kendall_scores`);
    null when either class is empty or the variance degenerates."""
    a = F.col("n_above").cast("double")
    b = F.col("n_below").cast("double")
    r = F.col("n_runs").cast("double")
    er = 1.0 + 2.0 * a * b / (a + b)
    vr = (
        2.0 * a * b * (2.0 * a * b - a - b)
        / ((a + b) * (a + b) * (a + b - 1.0))
    )
    ok = (F.col("n_above") > 0) & (F.col("n_below") > 0) & (vr > 0)
    z = F.when(ok, (r - er) / F.sqrt(vr))
    out = pieces.withColumn("__z", z)
    ax = F.abs(F.col("__z")) / math.sqrt(2.0)
    t = 1.0 / (1.0 + 0.3275911 * ax)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429)))
    )
    p = poly * F.exp(-ax * ax)
    return out.select(
        "*",
        F.when(ok, er).alias("expected_runs"),
        F.col("__z").alias("z"),
        F.when(F.col("__z").isNotNull(), p).alias("p_value"),
    ).drop("__z")


def durbin_watson_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """X147 Durbin-Watson serial-correlation pieces (Durbin & Watson
    1950): is this series' NOISE autocorrelated — the standard
    residual-diagnostics statistic every regression/forecast pipeline
    reports next to its fit (ops twin: a rollup whose residuals trend
    means the tier is hiding drift, not noise). Complements X136's
    Hurst (long-range) and X141's runs test (sign patterns) with the
    lag-1 second-moment read.

    ``DW = sum_{t>=2} (v_t - v_{t-1})^2 / sum_t (v_t - vbar)^2``; DW~2
    means no lag-1 autocorrelation, ->0 positive, ->4 negative, and
    ``rho_hat ~ 1 - DW/2``. Emits per key, all exact BIGINT: ``n``,
    ``sum_v``, ``sum_v2``, ``sum_d2`` (squared successive
    differences). The ratio derives caller-side in
    :func:`durbin_watson_scores` via the integer identity
    ``den = sum_v2 - sum_v^2/n`` — no mean subtraction row-side, so
    every piece is exact.

    Overflow contract (why callers pass CENTI-scaled longs, not the
    micro scale of X120/X139/X141: squares enter the sum here):
    ``|v| <= B`` needs ``n * (2B)^2 < 2^63``, so B = 5e4 holds to
    ~9e8 rows per key — far past any per-key series this engine
    rolls up.

    Plan: one key shuffle, one time sort — lag-1 diff in a single
    window pass, then a map-side-combinable groupBy. Pure JVM.
    """
    keys = list(keys)
    order_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    w_time = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    v = F.col("__v")
    annotated = df.select(
        *keys, F.col(value_col).cast("long").alias("__v"), *order_cols
    ).select(
        *keys, "__v",
        (v - F.lag("__v").over(w_time)).alias("__d"),
    )
    d = F.col("__d")
    return annotated.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("sum_v"),
        F.sum(v * v).cast("long").alias("sum_v2"),
        F.coalesce(F.sum(d * d), F.lit(0)).cast("long").alias("sum_d2"),
    )


def durbin_watson_scores(pieces: DataFrame) -> DataFrame:
    """DW statistic and the lag-1 autocorrelation read from
    :func:`durbin_watson_pieces` — plain projection; null when the
    series is constant (zero variance) or has fewer than 2 rows."""
    n = F.col("n").cast("double")
    den = F.col("sum_v2").cast("double") - (
        F.col("sum_v").cast("double") ** 2 / n
    )
    ok = (F.col("n") >= 2) & (den > 0)
    dw = F.when(ok, F.col("sum_d2").cast("double") / den)
    return pieces.select(
        "*",
        dw.alias("dw"),
        F.when(ok, 1.0 - dw / 2.0).alias("rho1"),
    )


def kruskal_wallis_pieces(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """X149 Kruskal-Wallis rank pieces (Kruskal & Wallis 1952) — the
    k-group generalization of :func:`rank_sum_pieces`: did the value
    distribution shift across ANY of k variants/sources, tested on
    ranks so heavy tails can't fake a shift. The engine ops read: one
    test over all event types / sources at once instead of k(k-1)/2
    pairwise rank-sums.

    Exact integer witness (same midrank identity as X120): pooled
    over ALL groups, every member of a tied value block contributes
    doubled midrank ``2·minrank + c − 1``, so the per-group doubled
    rank sum ``rs2_g`` is BIGINT-exact, as are the pooled ``n_total``
    and the tie-correction mass ``tie_sum = Σ(c³ − c)``. H derives
    caller-side in :func:`kruskal_wallis_scores`.

    Scale shape: per-value counts (groupBy v — map-side combinable),
    pooled cumulative counts via the two-phase
    :func:`~c3s_sm_spark.operators.sampling.global_cumsum` (never a
    one-task global window), one equi-join back on the value, one
    groupBy(group). Output: one row per group ``(group, n_g, rs2_g,
    n_total, tie_sum)`` — the pooled columns repeat per row so the
    witness stays single-relation.
    """
    p = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("long").alias("v"),
    )
    cnt_vg = p.groupBy("v", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("cg")
    )
    cnt_v = cnt_vg.groupBy("v").agg(F.sum("cg").cast("long").alias("c"))
    from c3s_sm_spark.operators.sampling import global_cumsum

    ranked = global_cumsum(cnt_v, "v", ["c"]).withColumnRenamed(
        "cum_c", "before"
    )
    glob = ranked.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_sum"),
    )
    per_g = (
        cnt_vg.join(ranked, "v")
        .groupBy("__g")
        .agg(
            F.sum("cg").cast("long").alias("n_g"),
            F.sum(
                F.col("cg")
                * (2 * (F.col("before") + 1) + F.col("c") - 1)
            )
            .cast("long")
            .alias("rs2_g"),
        )
    )
    return per_g.crossJoin(F.broadcast(glob)).select(
        F.col("__g").alias(group_col), "n_g", "rs2_g", "n_total", "tie_sum"
    )


def kruskal_wallis_scores(pieces: DataFrame, group_col: str) -> DataFrame:
    """H (tie-corrected) from :func:`kruskal_wallis_pieces` — one
    tiny aggregate over the k-row pieces frame. ``H = [12/(N(N+1)) ·
    Σ_g (rs2_g/2)²/n_g − 3(N+1)] / (1 − tie_sum/(N³−N))``; null when
    N < 2, every value is tied (correction denominator 0), or any
    group is empty. Output: one row ``(k, n_total, h_stat)``."""
    n = F.col("n_total").cast("double")
    ties = F.col("tie_sum").cast("double")
    rsum = F.sum(
        (F.col("rs2_g").cast("double") / 2.0) ** 2
        / F.col("n_g").cast("double")
    )
    agg = pieces.groupBy("n_total", "tie_sum").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        rsum.alias("__rs"),
    )
    corr = 1.0 - ties / (n * n * n - n)
    h_raw = 12.0 / (n * (n + 1.0)) * F.col("__rs") - 3.0 * (n + 1.0)
    ok = (F.col("n_total") >= 2) & (corr > 0)
    return agg.select(
        "k",
        "n_total",
        F.when(ok, h_raw / corr).alias("h_stat"),
    )


def spearman_pieces(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """X150 Spearman rank-correlation pieces — the monotone-association
    twin of Pearson: are two per-entity metrics (activity vs spend,
    doc length vs quality, ...) monotonically related, robust to the
    heavy tails and outliers that wreck a raw-moment correlation. The
    tie-safe definition IS Pearson on midranks, so the witness emits
    the exact integer rank moments and rho derives caller-side in
    :func:`spearman_scores`.

    Doubled midranks ``2·avgrank = 2·minrank + c − 1`` (the X120/X149
    identity) keep every piece BIGINT: per key group, ``n``, ``sxy2 =
    Σ rx2·ry2``, ``sxx2 = Σ rx2²``, ``syy2 = Σ ry2²`` (``Σrx2 = Σry2
    = n(n+1)`` identically, so the first moments need no column).
    Overflow: sums of (2n)² terms → ``4n³ < 2^63`` holds to n ≈ 1.3e6
    rows PER KEY GROUP — this operator ranks pre-aggregated entities
    (users, docs), not raw events, so the bound is generous.

    Scale shape: midranks per key group via rank() + count() windows
    partitioned on the keys (entity-level frames — orders of
    magnitude below raw-event scale; for a single global group at
    extreme entity counts, pre-aggregate to per-value count frames
    and rank via global_cumsum as X149 does), then one groupBy.
    """
    keys = list(keys)
    x, y = F.col("__x"), F.col("__y")
    p = df.select(
        *keys,
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    )

    def _r2(col: Column, name: str) -> Column:
        wr = Window.partitionBy(*keys).orderBy(col)
        wc = Window.partitionBy(*keys, col)
        return (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wc) - 1
        ).cast("long").alias(name)

    ranked = p.select(*keys, _r2(x, "rx2"), _r2(y, "ry2"))
    return ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy2"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx2"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy2"),
    )


def spearman_scores(pieces: DataFrame) -> DataFrame:
    """rho from :func:`spearman_pieces` — plain projection using the
    rank-sum identity ``Σrx2 = Σry2 = n(n+1)``: ``rho = (n·sxy2 −
    (n(n+1))²) / sqrt((n·sxx2 − (n(n+1))²)(n·syy2 − (n(n+1))²))``.
    Null when either margin is constant (all-tied ranks) or n < 2."""
    n = F.col("n").cast("double")
    s1 = n * (n + 1.0)
    cov = n * F.col("sxy2").cast("double") - s1 * s1
    vx = n * F.col("sxx2").cast("double") - s1 * s1
    vy = n * F.col("syy2").cast("double") - s1 * s1
    ok = (F.col("n") >= 2) & (vx > 0) & (vy > 0)
    return pieces.select(
        "*",
        F.when(ok, cov / F.sqrt(vx * vy)).alias("rho"),
    )


def theil_sen_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """X151 Theil-Sen slope pieces (Theil 1950 / Sen 1968) — the
    robust trend magnitude that the Mann-Kendall test (X127) only
    signs: the MEDIAN of all pairwise slopes, immune to outliers that
    drag an OLS fit (X133 rolling_reg). This is the exact estimator
    the reference's drought/trend consumers pair with MK over the
    dekadal/monthly products; ops twin: "how fast is this metric
    actually drifting", robust to spikes.

    Exact witness without float medians: pairwise slope = dv/dt with
    dv, dt exact BIGINTs (value deltas over integer day deltas). The
    median is SELECTED, not computed — rank pairs by ``(dv/dt, dv,
    dt)`` (the double division is correctly-rounded IEEE in every
    engine, and the (dv, dt) tiebreak pins equal-slope pairs
    deterministically) and emit the lower/upper middle pairs'
    integers: ``(n_pairs, dv_lo, dt_lo, dv_hi, dt_hi)`` per key. The
    slope derives caller-side in :func:`theil_sen_scores` as the
    mean of the two exact fractions (equal fractions when n_pairs is
    odd).

    Scale shape: one self-join per key (keys-partitioned shuffle) —
    pair count is quadratic in SERIES length, so this runs on
    rolled-up tiers (30-365 points/key -> <=66k pairs/key), never raw
    events; then one rank window + one groupBy. Keys with fewer than
    2 points emit nothing (no pairs — callers see the key drop, the
    same contract as rolling_reg's n<2 null).
    """
    keys = list(keys)
    p = df.select(
        *keys,
        F.datediff(F.col(ts_col), F.lit("1970-01-01")).cast("long").alias("__d"),
        F.col(value_col).cast("long").alias("__v"),
    )
    a = p.select(
        *keys, F.col("__d").alias("__d1"), F.col("__v").alias("__v1")
    )
    b = p.select(
        *keys, F.col("__d").alias("__d2"), F.col("__v").alias("__v2")
    )
    pairs = (
        a.join(b, keys)
        .where(F.col("__d2") > F.col("__d1"))
        .select(
            *keys,
            (F.col("__v2") - F.col("__v1")).alias("dv"),
            (F.col("__d2") - F.col("__d1")).alias("dt"),
        )
    )
    slope = F.col("dv").cast("double") / F.col("dt").cast("double")
    wk = Window.partitionBy(*keys)
    wr = wk.orderBy(slope, F.col("dv"), F.col("dt"))
    ranked = pairs.select(
        *keys,
        "dv",
        "dt",
        F.row_number().over(wr).alias("__rn"),
        F.count(F.lit(1)).over(wk).alias("__np"),
    )
    lo = F.floor((F.col("__np") + 1) / 2)  # lower middle rank
    hi = F.floor(F.col("__np") / 2) + 1  # upper middle rank (== lo when odd)
    at_lo = F.col("__rn") == lo
    at_hi = F.col("__rn") == hi
    return (
        ranked.where(at_lo | at_hi)
        .groupBy(*keys)
        .agg(
            F.max("__np").cast("long").alias("n_pairs"),
            F.max(F.when(at_lo, F.col("dv"))).cast("long").alias("dv_lo"),
            F.max(F.when(at_lo, F.col("dt"))).cast("long").alias("dt_lo"),
            F.max(F.when(at_hi, F.col("dv"))).cast("long").alias("dv_hi"),
            F.max(F.when(at_hi, F.col("dt"))).cast("long").alias("dt_hi"),
        )
    )


def theil_sen_scores(pieces: DataFrame) -> DataFrame:
    """Sen's slope from :func:`theil_sen_pieces` — plain projection:
    the mean of the two selected exact fractions (identical when
    n_pairs is odd), in value units per day."""
    lo = F.col("dv_lo").cast("double") / F.col("dt_lo").cast("double")
    hi = F.col("dv_hi").cast("double") / F.col("dt_hi").cast("double")
    return pieces.select("*", ((lo + hi) / 2.0).alias("sen_slope"))


def ljung_box_scores(pieces: DataFrame, keys: Sequence[str]) -> DataFrame:
    """X153 Ljung-Box portmanteau Q (Ljung & Box 1978) over
    :func:`ccf_pieces` self-CCF output — "is this series white noise
    across ALL lags 1..m at once", the standard residual-whiteness
    gate a forecasting tier reports next to X147's single-lag DW. No
    new witness surface: the variogram/ccf pieces already carry every
    moment; this is pure caller-side derivation (the zipf_fit
    pattern).

    Per-lag autocorrelation is the matched-pairs Pearson ``rho_l =
    (n_m·sxy − sx·sy) / sqrt((n_m·sxx − sx²)(n_m·syy − sy²))`` —
    tie-free exact inputs, and on a regular grid the series length
    recovers as ``n = n_matched + lag`` (pieces are self-describing;
    the max over lags guards a trailing-gap lag). ``Q = n(n+2) Σ_l
    rho_l²/(n−l)`` ~ chi²(m) under the null. Null when any lag is
    degenerate (zero variance) or n <= max lag.

    Input contract: ``pieces`` from ``ccf_pieces(s, s, keys, t, v, v,
    lags=range(1, m+1))`` on a REGULAR time grid (daily tier / gap-
    filled series — the engine's tiers are exactly that).
    """
    keys = list(keys)
    nm = F.col("n_matched").cast("double")
    cov = nm * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = nm * F.col("sxx") - F.col("sx").cast("double") ** 2
    vy = nm * F.col("syy") - F.col("sy").cast("double") ** 2
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    staged = pieces.select(
        *keys,
        "lag",
        (F.col("n_matched") + F.col("lag")).cast("long").alias("__n"),
        rho.alias("__rho"),
    )
    staged = staged.withColumn(
        "__nk", F.max("__n").over(Window.partitionBy(*keys))
    )
    agg = staged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_lags"),
        F.max("__n").alias("n_est"),
        F.sum(
            F.col("__rho") * F.col("__rho")
            / (F.col("__nk") - F.col("lag")).cast("double")
        ).alias("__s"),
        F.count("__rho").alias("__ok"),
    )
    good = (F.col("__ok") == F.col("n_lags")) & (F.col("n_est") > 0)
    return agg.select(
        *keys,
        "n_lags",
        "n_est",
        F.when(
            good,
            F.col("n_est").cast("double")
            * (F.col("n_est").cast("double") + 2.0)
            * F.col("__s"),
        ).alias("q_stat"),
    )


def swi_filter(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    ctime_days: float,
    out_col: str = "swi",
    n_partitions: int | None = None,
) -> DataFrame:
    """X155 Soil Water Index recursive exponential filter (Wagner 1999 /
    Albergel 2008) — THE derived product of the reference's ecosystem:
    pytesmo's ``exp_filter`` turns the surface-soil-moisture series the
    reference's time-series tier serves into profile soil moisture at
    characteristic time T. Engine reading: a gap-aware exponential
    smoother whose effective alpha adapts to irregular sampling —
    exactly what a telemetry tier wants when series have holes (plain
    :func:`ewma` over-weights post-gap points).

    Recurrence per key (ts-ordered): gain ``K_1 = 1``, ``SWI_1 =
    v_1``; then ``K_n = K_{n-1} / (K_{n-1} + e^{-dt_n/T})`` with
    ``dt_n`` the gap in days, ``SWI_n = SWI_{n-1} + K_n (v_n -
    SWI_{n-1})``. Limit behavior pinned in tests: T -> inf gives the
    exact running mean (K_n = 1/n), T -> 0 tracks the raw series.

    Runs on the per-key ordered map (module docstring) — deterministic
    under any cluster partitioning. The K-recursion is state-dependent
    (not a fixed-alpha ewm), so each series folds in a numpy loop:
    O(series length) Python steps per KEY (not per raw point at corpus
    scale — this runs on rolled-up tiers), the same trade stream_holt
    documents.
    Null values are passed through untouched without advancing the
    filter state (a null can't move SWI, and the next gap spans it).

    Output: input columns + ``out_col`` (float64) + ``swi_gain``
    (the final K is the streaming twin's carry-over, exposed so
    :func:`~c3s_sm_spark.streaming.stateful.stream_swi` can pin
    bit-parity).
    """
    import math

    from pyspark.sql.types import DoubleType, StructField, StructType

    if ctime_days <= 0:
        raise ValueError(f"ctime_days must be > 0, got {ctime_days}")
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, DoubleType()), StructField("swi_gain", DoubleType())]
    )
    t_char = float(ctime_days)

    def _swi(_, rows):
        import numpy as np
        import pandas as pd

        t = (
            pd.to_datetime(rows[ts_col]).to_numpy().astype("datetime64[us]")
            .astype(np.int64) / 86_400_000_000.0
        )
        v = rows[value_col].to_numpy(dtype=np.float64)
        swi = np.full(len(v), np.nan)
        gain = np.full(len(v), np.nan)
        s = k = None
        last_t = None
        for i in range(len(v)):
            if np.isnan(v[i]):
                continue
            if s is None:
                s, k = v[i], 1.0
            else:
                e = math.exp(-(t[i] - last_t) / t_char)
                k = k / (k + e)
                s = s + k * (v[i] - s)
            last_t = t[i]
            swi[i], gain[i] = s, k
        return rows.assign(**{out_col: swi, "swi_gain": gain})

    return per_key_ordered_map(
        df, keys, [ts_col], _swi, out_schema, n_partitions
    )




def cvm_pieces(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """X157 Cramér-von Mises two-sample pieces — the INTEGRATED
    ECDF-divergence test completing the two-sample family: X120
    rank_sum sees location, X121 ks sees the single worst ECDF gap,
    X156 welch_t sees means; CvM weighs divergence over the WHOLE
    distribution, catching spread/shape drift a max-gap statistic
    dilutes.

    ECDF form (tie-canonical — on tied data the classical rank form
    silently inflates, measured +5x on a 25-value domain): ``T =
    (nm/N²) Σ_x (F_a(x) − F_b(x))²`` summed over pooled OBSERVATIONS,
    i.e. each distinct value weighted by its multiplicity. With the
    X121 integers ``D_v = inc_a(v)·n_b − inc_b(v)·n_a`` (inclusive
    cumulative counts — ECDF differences between observed values are
    constant) the whole witness is ONE exact BIGINT: ``sum_cd2 = Σ_v
    c_v · D_v²``; ``T = sum_cd2/(n_a n_b N²)`` derives caller-side in
    :func:`cvm_scores`.

    Overflow contract: ``sum_cd2 <= N·(n_a·n_b)²`` — comfortable to
    ~5e3 x 5e3 samples; the driver witness runs a user-slice (the
    pettitt/hurst pattern), full-corpus runs pre-aggregate or
    subsample first.

    Scale shape: identical to :func:`ks_pieces` — per-value counts,
    one two-phase :func:`~c3s_sm_spark.operators.sampling.
    global_cumsum`, broadcast totals, one final aggregate.
    """
    p = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == group_a).alias("ia"),
    )
    counts = p.groupBy("v").agg(
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~F.col("ia"), 1).otherwise(0)).cast("long").alias("cb"),
    )
    from c3s_sm_spark.operators.sampling import global_cumsum

    cum = global_cumsum(counts, "v", ["ca", "cb"])
    totals = counts.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    inc_a = F.col("cum_ca") + F.col("ca")
    inc_b = F.col("cum_cb") + F.col("cb")
    d = inc_a * F.col("n_b") - inc_b * F.col("n_a")
    return (
        cum.crossJoin(F.broadcast(totals))
        .groupBy("n_a", "n_b")
        .agg(
            F.sum((F.col("ca") + F.col("cb")) * d * d)
            .cast("long")
            .alias("sum_cd2")
        )
    )


def cvm_scores(pieces: DataFrame) -> DataFrame:
    """T from :func:`cvm_pieces` — plain projection: ``T =
    sum_cd2/(n_a·n_b·N²)`` with N = n_a+n_b (the two-sample CvM
    criterion; T > ~0.46 rejects at 5% under the limiting null).
    Null when either sample is empty."""
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nn = na + nb
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return pieces.select(
        "*",
        F.when(
            ok, F.col("sum_cd2").cast("double") / (na * nb * nn * nn)
        ).alias("t_stat"),
    )


def kendall_pieces(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """X159 Kendall tau-b pieces — the concordance companion to X150
    Spearman: does the ORDER of one per-entity metric predict the
    order of the other, counted pair-by-pair (robust, and with a
    direct probabilistic reading: P(concordant) − P(discordant)).
    Spearman weights by rank distance; tau-b counts inversions —
    reporting both is the standard practice for monotone association.

    Exact BIGINT pieces per key group: ``n``, ``s`` = Σ_{i<j}
    sign(Δx)·sign(Δy) (concordant − discordant), ``tx`` = Σ over
    x-tie groups of c(c−1)/2, ``ty`` likewise (tau-b = s /
    sqrt((n0−tx)(n0−ty)) with n0 = n(n−1)/2 derives caller-side in
    :func:`kendall_scores`).

    Scale shape: one keys-equi self-join (the X151 theil_sen pattern
    — quadratic in GROUP size, so this ranks pre-aggregated entities,
    never raw events) for ``s``; the tie masses come from two cheap
    per-value groupBys, no join. All integer arithmetic.
    """
    keys = list(keys)
    p = df.select(
        *keys,
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    )
    a = p.select(*keys, F.col("__x").alias("__x1"), F.col("__y").alias("__y1"))
    b = p.select(*keys, F.col("__x").alias("__x2"), F.col("__y").alias("__y2"))
    # i<j without a row id: order pairs lexicographically and halve via
    # strict inequality on the (x, y) tuple — pairs tied on BOTH x and
    # y contribute sign 0 anyway, so dropping them is exact
    pairs = a.join(b, keys).where(
        (F.col("__x1") < F.col("__x2"))
        | ((F.col("__x1") == F.col("__x2")) & (F.col("__y1") < F.col("__y2")))
    )
    sgn = F.signum(
        (F.col("__x2") - F.col("__x1")).cast("double")
    ) * F.signum((F.col("__y2") - F.col("__y1")).cast("double"))
    s = pairs.groupBy(*keys).agg(
        F.sum(sgn).cast("long").alias("s")
    )
    n = p.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n"))

    def _ties(col: str, out: str) -> DataFrame:
        return (
            p.groupBy(*keys, col)
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
            .groupBy(*keys)
            .agg(
                F.sum(F.expr("(__c * (__c - 1)) div 2"))
                .cast("long")
                .alias(out)
            )
        )

    return (
        n.join(s, keys, "left")
        .join(_ties("__x", "tx"), keys)
        .join(_ties("__y", "ty"), keys)
        .select(
            *keys,
            "n",
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("s"),
            "tx",
            "ty",
        )
    )


def kendall_scores(pieces: DataFrame) -> DataFrame:
    """tau-b from :func:`kendall_pieces` — plain projection: ``tau_b =
    s / sqrt((n0 − tx)(n0 − ty))`` with ``n0 = n(n−1)/2``. Null when a
    margin is fully tied or n < 2."""
    n = F.col("n").cast("double")
    n0 = n * (n - 1.0) / 2.0
    dx = n0 - F.col("tx").cast("double")
    dy = n0 - F.col("ty").cast("double")
    ok = (F.col("n") >= 2) & (dx > 0) & (dy > 0)
    return pieces.select(
        "*",
        F.when(ok, F.col("s").cast("double") / F.sqrt(dx * dy)).alias("tau_b"),
    )


def qq_shift_pieces(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_quantiles: int = 10,
) -> DataFrame:
    """X160 quantile-quantile shift profile — WHERE in the distribution
    did the metric move: the exact q-th order statistics of two samples
    side by side (type-1 / ceiling quantiles, no interpolation — pure
    integer selection, so the witness is exact on any engine). The
    drill-down companion to the two-sample family: X121/X157 say THAT
    the distributions differ, this says the shift lives in (e.g.) the
    upper deciles — the classic A/B drill-down and drift-localization
    read.

    For q = 1..n_quantiles−1 the selected position is ``k_q =
    ceil(q·n/Q)``; the sample value covering position k is the
    distinct value whose inclusive cumulative-count range
    ``(before, before+c]`` contains k. Output: one row per q —
    ``(q, k_a, q_a, k_b, q_b, shift)`` with ``shift = q_b − q_a``,
    all exact BIGINT.

    Scale shape: per-value counts + ONE two-phase
    :func:`~c3s_sm_spark.operators.sampling.global_cumsum`; the
    quantile probe is a broadcast join of the (Q−1)-row position
    frame against the distinct-value cum frame — no sort of raw data,
    no percentile_approx, no interpolation ambiguity.
    """
    if n_quantiles < 2:
        raise ValueError(f"n_quantiles must be >= 2, got {n_quantiles}")
    p = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == group_a).alias("ia"),
    )
    counts = p.groupBy("v").agg(
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~F.col("ia"), 1).otherwise(0)).cast("long").alias("cb"),
    )
    from c3s_sm_spark.operators.sampling import global_cumsum

    cum = global_cumsum(counts, "v", ["ca", "cb"])
    totals = counts.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    spark = df.sparkSession
    qs = spark.range(1, int(n_quantiles)).select(
        F.col("id").cast("int").alias("q")
    )
    # ceil(q*n/Q) in pure integer arithmetic: (q*n + Q - 1) div Q
    qq = int(n_quantiles)
    probes = qs.crossJoin(F.broadcast(totals)).select(
        "q",
        F.expr(f"(q * n_a + {qq} - 1) div {qq}").cast("long").alias("k_a"),
        F.expr(f"(q * n_b + {qq} - 1) div {qq}").cast("long").alias("k_b"),
    )
    pa = (
        cum.join(
            F.broadcast(probes),
            (F.col("cum_ca") < F.col("k_a"))
            & (F.col("k_a") <= F.col("cum_ca") + F.col("ca")),
        )
        .select("q", "k_a", F.col("v").alias("q_a"))
    )
    pb = (
        cum.join(
            F.broadcast(probes),
            (F.col("cum_cb") < F.col("k_b"))
            & (F.col("k_b") <= F.col("cum_cb") + F.col("cb")),
        )
        .select("q", "k_b", F.col("v").alias("q_b"))
    )
    return (
        pa.join(pb, "q")
        .select(
            "q",
            "k_a",
            "q_a",
            "k_b",
            "q_b",
            (F.col("q_b") - F.col("q_a")).cast("long").alias("shift"),
        )
    )


def dtw_distances(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    pairs: DataFrame,
    radius: int | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """X164 banded Dynamic Time Warping distance between pairs of
    series (Sakoe & Chiba 1978) — THE classic elastic similarity for
    time series: two series that trace the same shape slightly out of
    phase get a small distance where Euclidean alignment punishes
    every lag. The shape-matching companion to the correlation family
    (X150/X159 measure monotone association at FIXED alignment; DTW
    measures shape identity under local time warps) — retrieval,
    clustering, and "which sensors behave alike, phase-shifted?".

    Cost is ``|a_i − b_j|`` on integer (micro-unit) values and the DP
    is pure integer min-plus, so the distance is EXACT — bit-stable
    across engines and partitionings (no float accumulation). The
    Sakoe-Chiba band ``|i − j| <= w`` with ``w = max(radius, |n−m|)``
    (always feasible) bounds work per pair to ``O(w·(n+m))``;
    ``radius=None`` runs the full ``O(n·m)`` grid.

    Inputs: ``df`` holds the observations; ``pairs (key_a, key_b)``
    names which DTW cells to compute — the caller controls the pair
    budget (all-pairs within a shortlist, LSH candidates, a probe set
    vs a catalog), exactly like the verify stage of the near-dup
    suite: DTW is never the corpus-wide plan, it is the exact-rerank
    stage AFTER blocking.

    Scale shape: series assembly is one ``collect_list`` shuffle per
    key (a key's series must fit a task — the same per-series contract
    as :func:`ewma`/:func:`lttb` and the reference's per-cell reads);
    two equi-joins attach both series to each pair (AQE broadcasts the
    series frame when the shortlist is small); the DP runs in ONE
    anti-diagonal-vectorized numpy kernel per pair via ``mapInPandas``
    (Arrow-batched, no per-row Python in the inner loop). Emits
    ``(key_a, key_b, n_a, n_b, band, dtw)`` — all BIGINT.

    Row contract (ADVICE r4): a requested pair is silently DROPPED from
    the output when either key is absent from ``df`` or has an empty
    series — DTW to an empty series is undefined, and the inner series
    joins have nothing to attach (callers that count pair outputs must
    anti-join against the result to find the casualties; same contract
    as :func:`dtw_lb_keogh`, and deliberately UNLIKE
    :func:`local_align_pairs`, whose alignment score to an empty doc is
    well-defined as 0 and emitted).
    """
    ser = (
        df.select(
            F.col(key_col).alias("__k"),
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(value_col).cast("long").alias("v"),
            ).alias("__s"),
        )
        .groupBy("__k")
        .agg(
            F.expr("transform(array_sort(collect_list(__s)), x -> x.v)")
            .alias("__vals")
        )
        # lazy localCheckpoint: the series frame feeds BOTH pair joins —
        # without the pin the assembly shuffle runs twice (2 scans)
        .localCheckpoint(eager=False)
    )
    ka, kb = pairs.columns[0], pairs.columns[1]
    joined = (
        pairs.select(
            F.col(ka).alias("key_a"), F.col(kb).alias("key_b")
        )
        .join(
            ser.select(
                F.col("__k").alias("key_a"), F.col("__vals").alias("__va")
            ),
            "key_a",
        )
        .join(
            ser.select(
                F.col("__k").alias("key_b"), F.col("__vals").alias("__vb")
            ),
            "key_b",
        )
        .select("key_a", "key_b", "__va", "__vb")
    )
    if n_partitions:
        joined = joined.repartition(n_partitions)

    rad = radius
    INF = 1 << 62

    def _dtw_one(a, b):
        import numpy as np

        n, m = len(a), len(b)
        w = m + n if rad is None else max(int(rad), abs(n - m))
        # DP over the cost grid, vectorized along anti-diagonals:
        # cells on diagonal d (= i + j) depend only on d-1 and d-2.
        # dp[i][j] = c + min(dp[i-1][j], dp[i][j-1], dp[i-1][j-1]),
        # dp[0][0] = c00. Anti-diagonal d holds i in [lo, hi], j = d - i.
        dp_prev = None   # diagonal d-1, aligned to its own lo
        dp_prev2 = None  # diagonal d-2
        lo_prev = lo_prev2 = 0
        out = INF
        for d in range(0, n + m - 1):
            lo = max(0, d - (m - 1))
            hi = min(n - 1, d)
            i = np.arange(lo, hi + 1, dtype=np.int64)
            j = d - i
            cur = np.full(len(i), INF, dtype=np.int64)
            band = np.abs(i - j) <= w
            if band.any():
                c = np.abs(a[i[band]] - b[j[band]])
                if d == 0:
                    best = np.zeros(1, dtype=np.int64)
                else:
                    # predecessor lookups, each aligned by offset:
                    def _pick(dpd, lod, ii):
                        r = np.full(len(ii), INF, dtype=np.int64)
                        if dpd is not None:
                            idx = ii - lod
                            ok = (idx >= 0) & (idx < len(dpd))
                            r[ok] = dpd[idx[ok]]
                        return r

                    ib = i[band]
                    up = _pick(dp_prev, lo_prev, ib - 1)      # (i-1, j)
                    left = _pick(dp_prev, lo_prev, ib)        # (i, j-1)
                    diag = _pick(dp_prev2, lo_prev2, ib - 1)  # (i-1, j-1)
                    best = np.minimum(np.minimum(up, left), diag)
                cur[band] = np.where(
                    best >= INF, INF, c + best
                )
            dp_prev2, lo_prev2 = dp_prev, lo_prev
            dp_prev, lo_prev = cur, lo
            if d == n + m - 2:
                out = int(cur[-1]) if hi == n - 1 else int(cur[0])
        return out, w

    def _dtw_partition(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            res = []
            for ka_, kb_, va, vb in zip(
                pdf["key_a"], pdf["key_b"], pdf["__va"], pdf["__vb"]
            ):
                a = np.asarray(va, dtype=np.int64)
                b = np.asarray(vb, dtype=np.int64)
                if len(a) == 0 or len(b) == 0:
                    continue
                dist, w = _dtw_one(a, b)
                res.append((ka_, kb_, len(a), len(b), w, dist))
            if res:
                yield pd.DataFrame(
                    res,
                    columns=["key_a", "key_b", "n_a", "n_b", "band", "dtw"],
                )

    out_schema = (
        f"key_a {joined.schema['key_a'].dataType.simpleString()}, "
        f"key_b {joined.schema['key_b'].dataType.simpleString()}, "
        "n_a bigint, n_b bigint, band bigint, dtw bigint"
    )
    return joined.mapInPandas(_dtw_partition, schema=out_schema)


def matrix_profile_sad(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    window: int = 7,
    exclusion: int | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """X166 integer matrix profile (SAD variant) per key — the
    all-subsequence self-similarity read behind motif AND discord
    discovery (Yeh et al. 2016, "Matrix Profile I"): for every length-
    ``window`` subsequence of a key's (time-ordered) series, the
    minimal sum-of-absolute-differences to ANY other subsequence of
    the same series outside a trivial-match exclusion zone
    (``|i − j| <= exclusion``, default ``window // 2``). Low profile
    values = repeated motifs (template stamping, copy-paste telemetry);
    the profile MAXIMUM is the series' top discord — its least-similar,
    most anomalous window (the classic unsupervised anomaly read).

    The canonical matrix profile z-normalizes under Euclidean
    distance; this variant keeps the raw integer SAD so the witness is
    EXACT (pure |·| and min over int64 — bit-stable at any parallelism
    and in any engine). Emits per subsequence start: ``(keys, idx,
    start_ts, mp, mp_idx)`` — profile value and the position of the
    nearest neighbor (ties break to the smallest index).

    Scale shape: the per-key ordered map (module docstring — a key's
    series fits a task). The kernel is diagonal-vectorized:
    for each offset ``d`` the elementwise gaps ``|a_t − a_{t+d}|``
    roll into all window SADs of that diagonal via one cumulative sum
    — O(n²) work per series but O(n) numpy passes, no Python inner
    loop over cells.
    """
    keys = list(keys)
    src = df.select(*keys, ts_col, value_col)

    def _mp_one(v):
        import numpy as np

        n = len(v)
        m = int(window)
        excl = m // 2 if exclusion is None else int(exclusion)
        n_sub = n - m + 1
        if n_sub < 1:
            return None, None
        INF = 1 << 62
        mp = np.full(n_sub, INF, dtype=np.int64)
        mpi = np.full(n_sub, -1, dtype=np.int64)
        for d in range(excl + 1, n_sub):
            e = np.abs(v[: n - d] - v[d:])
            # rolling window-m sums of e -> SAD(i, i+d) for all i
            c = np.concatenate(([0], np.cumsum(e)))
            sad = c[m:] - c[:-m]            # length n - d - m + 1
            k = len(sad)
            if k <= 0:
                continue
            i = np.arange(k)
            j = i + d
            # forward direction: neighbor at larger index
            upd = sad < mp[i]
            mp[i] = np.where(upd, sad, mp[i])
            mpi[i] = np.where(upd, j, mpi[i])
            # backward: neighbor at smaller index; ties keep smaller j
            upd = (sad < mp[j]) | ((sad == mp[j]) & (i < mpi[j]))
            mp[j] = np.where(upd, sad, mp[j])
            mpi[j] = np.where(upd, i, mpi[j])
        return mp, mpi

    def _mp(kv, rows):
        import numpy as np
        import pandas as pd

        mp, mpi = _mp_one(rows[value_col].to_numpy(dtype=np.int64))
        if mp is None:
            return None
        # no admissible neighbor (series shorter than the exclusion
        # zone allows): NULL, never the INF sentinel
        mp_out = pd.array(mp, dtype="Int64")
        mp_out[mpi == -1] = None
        return pd.DataFrame(
            {
                **dict(zip(keys, kv)),
                "idx": np.arange(len(mp), dtype=np.int64),
                "start_ts": rows[ts_col].iloc[: len(mp)].to_numpy(),
                "mp": mp_out,
                "mp_idx": mpi,
            }
        )

    ts_type = src.schema[ts_col].dataType.simpleString()
    out_schema = (
        f"{key_ddl(src, keys)}, idx bigint, start_ts {ts_type}, "
        "mp bigint, mp_idx bigint"
    )
    return per_key_ordered_map(
        src, keys, [ts_col], _mp, out_schema, n_partitions
    )


def binseg_changepoints(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    max_changes: int = 3,
    min_size: int = 5,
    n_partitions: int | None = None,
) -> DataFrame:
    """X168 greedy binary-segmentation changepoint detection (Scott &
    Knott 1974 lineage; the workhorse behind `ruptures`-style BinSeg)
    — the MULTIPLE-changepoint extension of the X139 Pettitt single
    split: recursively split the series at the position maximizing the
    exact integer CUSUM contrast ``score(t) = |n_seg·S_t − t·S_seg|``
    (``= t·(n_seg−t)·|mean_left − mean_right|`` — cross-multiplied, so
    the decision never touches a float), greedily taking the
    highest-scoring split across all current segments until
    ``max_changes`` splits are found or no segment admits a split with
    both sides ``>= min_size`` and score > 0.

    Emits one row per detected changepoint: ``(keys, cp_rank``
    (detection order, 1-based)``, idx`` (global 0-based index of the
    first right-side observation)``, cp_ts`` (its timestamp)``,
    score)`` — all BIGINT, fully deterministic (score ties break to
    the smallest index; equal-score segments split in left-to-right
    order).

    Overflow contract: ``n_seg·S_t`` needs ``n·|S| < 2^63`` — with
    1e-4-unit values this holds to ~1e5-point series at 1e9-scale
    sums; larger series should pre-aggregate (daily tiers) first,
    exactly like the other quadratic-sensitive witnesses.

    Scale shape: the per-key ordered map (module docstring) with a
    numpy kernel (prefix sums + vectorized argmax per segment; the
    greedy loop runs ``max_changes`` times over a segment list of the
    same size).
    Rows-only (a greedy recursion has no ANSI-SQL twin); pinned
    against a pure-Python reference in tests/test_timeseries.py.
    """
    keys = list(keys)
    src = df.select(*keys, ts_col, value_col)
    mc, ms = int(max_changes), int(min_size)

    def _binseg_one(v):
        import numpy as np

        n = len(v)
        pre = np.concatenate(([0], np.cumsum(v)))  # pre[i] = sum v[:i]

        def best_split(a, b):
            # best t in (a, b): left = [a, t), right = [t, b)
            lo, hi = a + ms, b - ms
            if lo > hi:
                return None
            t = np.arange(lo, hi + 1, dtype=np.int64)
            s_seg = pre[b] - pre[a]
            n_seg = b - a
            s_t = pre[t] - pre[a]
            score = np.abs(n_seg * s_t - (t - a) * s_seg)
            k = int(np.argmax(score))  # first max = smallest t
            sc = int(score[k])
            return (sc, int(t[k])) if sc > 0 else None

        segs = [(0, n)]
        found = []
        for _ in range(mc):
            cands = []
            for si, (a, b) in enumerate(segs):
                r = best_split(a, b)
                if r is not None:
                    cands.append((r[0], -si, r[1], si))
            if not cands:
                break
            # max score; ties -> leftmost segment (max -si = min si)
            sc, _, t, si = max(cands)
            a, b = segs[si]
            segs[si : si + 1] = [(a, t), (t, b)]
            found.append((t, sc))
        return found

    def _binseg(kv, rows):
        import numpy as np
        import pandas as pd

        v = rows[value_col].to_numpy(dtype=np.int64)
        ts = rows[ts_col].to_numpy()
        return pd.DataFrame(
            [
                (*kv, rank, t, ts[t], sc)
                for rank, (t, sc) in enumerate(_binseg_one(v), start=1)
            ],
            columns=[*keys, "cp_rank", "idx", "cp_ts", "score"],
        )

    ts_type = src.schema[ts_col].dataType.simpleString()
    out_schema = (
        f"{key_ddl(src, keys)}, cp_rank bigint, idx bigint, "
        f"cp_ts {ts_type}, score bigint"
    )
    return per_key_ordered_map(
        src, keys, [ts_col], _binseg, out_schema, n_partitions
    )


def holt_winters_seasonal(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    period: int,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    n_partitions: int | None = None,
) -> DataFrame:
    """X169 Holt-Winters ADDITIVE seasonal (triple exponential)
    smoothing per key (Winters 1960) — completes the smoothing ladder
    :func:`ewma` (level) -> :func:`holt_smooth` (level+trend) ->
    level+trend+SEASON, the classic forecasting baseline for any
    series with a weekly/daily cycle:

    ``l_t = alpha*(v_t - s_{t-m}) + (1-alpha)*(l_{t-1} + b_{t-1})``
    ``b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}``
    ``s_t = gamma*(v_t - l_t) + (1-gamma)*s_{t-m}``

    Classical initialization over the first two full seasons: ``l_0 =
    mean(season 1)``, ``b_0 = (mean(season 2) - mean(season 1))/m``,
    initial seasonals = season-1 deviations from its mean. Keys with
    fewer than ``2*period`` observations are dropped (the
    initialization is undefined — explicit, never a silent degraded
    fit). Appends ``hw_level``, ``hw_trend``, ``hw_season`` and
    ``hw_fitted`` (the one-step-ahead in-sample forecast
    ``l_{t-1} + b_{t-1} + s_{t-m}``; the first ``period`` points
    report their initialization values).

    A numpy recurrence per key on the per-key ordered map (module
    docstring) — deterministic under any cluster partitioning
    (sequential float ops in fixed time order). Rows-only (recursive;
    no ANSI-SQL twin); pinned against a pure-Python reference loop in
    pytest.
    """
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    if not (0 < alpha <= 1) or not (0 <= beta <= 1) or not (0 <= gamma <= 1):
        raise ValueError(
            f"need 0<alpha<=1, 0<=beta<=1, 0<=gamma<=1, "
            f"got {alpha}, {beta}, {gamma}"
        )
    m = int(period)
    if m < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("hw_level", DoubleType()),
            StructField("hw_trend", DoubleType()),
            StructField("hw_season", DoubleType()),
            StructField("hw_fitted", DoubleType()),
        ]
    )

    def _hw_one(v):
        n = len(v)
        lev = np.empty(n, dtype=np.float64)
        tr = np.empty(n, dtype=np.float64)
        sea = np.empty(n, dtype=np.float64)
        fit = np.empty(n, dtype=np.float64)
        m1 = float(np.mean(v[:m]))
        m2 = float(np.mean(v[m : 2 * m]))
        l_prev = m1
        b_prev = (m2 - m1) / m
        s_hist = [float(x) - m1 for x in v[:m]]  # s_{t-m} ring buffer
        for t in range(n):
            s_m = s_hist[t % m]
            fit[t] = l_prev + b_prev + s_m if t >= m else l_prev + s_m
            if t < m:
                # warm-up: states hold their initialization
                lev[t], tr[t], sea[t] = l_prev, b_prev, s_m
                continue
            l_t = alpha * (v[t] - s_m) + (1 - alpha) * (l_prev + b_prev)
            b_t = beta * (l_t - l_prev) + (1 - beta) * b_prev
            s_t = gamma * (v[t] - l_t) + (1 - gamma) * s_m
            lev[t], tr[t], sea[t] = l_t, b_t, s_t
            s_hist[t % m] = s_t
            l_prev, b_prev = l_t, b_t
        return lev, tr, sea, fit

    def _hw(_, rows):
        if len(rows) < 2 * m:
            return None
        lev, tr, sea, fit = _hw_one(rows[value_col].to_numpy(np.float64))
        return rows.assign(
            hw_level=lev, hw_trend=tr, hw_season=sea, hw_fitted=fit
        )

    return per_key_ordered_map(
        df, keys, [ts_col], _hw, out_schema, n_partitions
    )


def isotonic_blocks(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """X170 isotonic regression per key via Pool-Adjacent-Violators
    (PAVA; Ayer et al. 1955, Barlow & Brunk 1972) — the
    monotone-nondecreasing least-squares fit, THE calibration
    primitive (monotone quality-score calibration, dose-response,
    drift-free cumulative trend fits). Emits the fitted step function
    as its maximal constant BLOCKS in exact integer pieces — the
    fitted level is ``blk_sum / blk_n``, a rational the caller
    derives, so the witness never contains a float: per block
    ``(keys, blk_idx, start_idx, end_idx, blk_sum, blk_n)`` (indices
    0-based over the key's time order, inclusive).

    PAVA merges adjacent blocks while a violation exists
    (``mean_prev > mean_next``), decided here by the exact
    cross-multiplication ``sum_prev * n_next > sum_next * n_prev`` —
    no float enters any decision, so the block structure is
    bit-stable at any parallelism and identical to an infinite-
    precision solver. Overflow contract: ``|block sum| * block count
    < 2^63`` (1e-4-unit daily sums: safe beyond 1e6-point series).

    Scale shape: the per-key ordered map (module docstring) with a
    stack kernel (O(n) amortized per series — each element is pushed
    and merged at most once). Rows-only (a while-merge recursion has no
    ANSI-SQL twin); pinned against sklearn-semantics brute force in
    tests/test_timeseries.py.
    """
    keys = list(keys)
    src = df.select(*keys, ts_col, value_col)

    def _pava_one(v):
        # stack of [sum, n, start]
        blocks: list[list[int]] = []
        for i, x in enumerate(v):
            blocks.append([int(x), 1, i])
            while len(blocks) >= 2:
                s2, n2, st2 = blocks[-1]
                s1, n1, st1 = blocks[-2]
                if s1 * n2 > s2 * n1:  # mean_prev > mean_next: pool
                    blocks[-2:] = [[s1 + s2, n1 + n2, st1]]
                else:
                    break
        return blocks

    def _pava(kv, rows):
        import numpy as np
        import pandas as pd

        v = rows[value_col].to_numpy(np.int64)
        blocks = _pava_one(v)
        nxt_starts = [b[2] for b in blocks[1:]] + [len(v)]
        return pd.DataFrame(
            [
                (*kv, bi, st, nx - 1, s, n)
                for bi, ((s, n, st), nx) in enumerate(zip(blocks, nxt_starts))
            ],
            columns=[
                *keys, "blk_idx", "start_idx", "end_idx", "blk_sum", "blk_n",
            ],
        )

    out_schema = (
        f"{key_ddl(src, keys)}, blk_idx bigint, start_idx bigint, "
        "end_idx bigint, blk_sum bigint, blk_n bigint"
    )
    return per_key_ordered_map(
        src, keys, [ts_col], _pava, out_schema, n_partitions
    )


def dickey_fuller_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """X171 Dickey-Fuller unit-root test pieces (Dickey & Fuller
    1979, no-lag DRIFT form — intercept included via centered OLS
    pieces) — the standard "is this series
    stationary or a random walk?" screen that decides whether a
    per-source metric can be modeled by level statistics at all (the
    stationarity gate in front of the X53/X130/X147 family): regress
    ``Δy_t`` on ``y_{t-1}``; ``gamma ~ 0`` means unit root (random
    walk), ``gamma < 0`` means mean-reverting.

    Emits the exact BIGINT OLS pieces per key — ``n`` (usable lagged
    observations), ``s_y1``, ``s_y1sq``, ``s_dy``, ``s_dy2``,
    ``s_y1dy`` — the float ``gamma = (n·s_y1dy − s_y1·s_dy) /
    (n·s_y1sq − s_y1²)`` and its t-statistic live in
    :func:`dickey_fuller_scores`, outside the witness. Overflow
    contract: ``n·Σy²`` must fit int64 (1e-4-unit daily sums:
    safe to ~1e4-point series at 1e5-unit levels; pre-scale or
    pre-aggregate beyond).

    Scale shape: ONE shuffle on ``keys`` shared by the lag window and
    the aggregate — pure JVM expressions, no Python. Oracled (lag
    window + cast sums have an exact ANSI twin).
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    v = F.col(value_col).cast("long")
    staged = df.select(
        *keys, ts_col, v.alias("__y")
    ).withColumn("__y1", F.lag("__y").over(w))
    y1, dy = F.col("__y1"), F.col("__y") - F.col("__y1")
    # single-observation keys drop entirely (no lagged row), matching
    # the oracle's WHERE y1 IS NOT NULL — never an n=0 null row
    return staged.filter(y1.isNotNull()).groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y1).cast("long").alias("s_y1"),
        F.sum(y1 * y1).cast("long").alias("s_y1sq"),
        F.sum(dy).cast("long").alias("s_dy"),
        F.sum(dy * dy).cast("long").alias("s_dy2"),
        F.sum(y1 * dy).cast("long").alias("s_y1dy"),
    )


def dickey_fuller_scores(pieces: DataFrame) -> DataFrame:
    """gamma + t-statistic from :func:`dickey_fuller_pieces` — plain
    float projection (t < ~-2.86 rejects the unit root at 5% for the
    drift form). Null when degenerate (n < 3 or zero variance)."""
    n = F.col("n").cast("double")
    sxx = n * F.col("s_y1sq") - F.col("s_y1") * F.col("s_y1")
    sxy = n * F.col("s_y1dy") - F.col("s_y1") * F.col("s_dy")
    syy = n * F.col("s_dy2") - F.col("s_dy") * F.col("s_dy")
    gamma = sxy / sxx
    # residual SS (scaled): (syy - gamma*sxy) / n; SE^2 = s2 / (sxx/n)
    s2 = (syy - gamma * sxy) / (n * (n - 2))
    ok = (F.col("n") >= 3) & (sxx > 0)
    return pieces.select(
        "*",
        F.when(ok, gamma).alias("gamma"),
        F.when(
            ok & (s2 > 0), gamma / F.sqrt(s2 * n / sxx)
        ).alias("t_stat"),
    )


def dtw_lb_keogh(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    pairs: DataFrame,
    radius: int = 14,
    n_partitions: int | None = None,
) -> DataFrame:
    """X172 LB_Keogh lower bound (Keogh & Ratanamahatana 2005) for
    banded DTW — the PRUNING stage in front of :func:`dtw_distances`,
    completing the block-then-verify pattern the dedup suite uses:
    the bound is O(n) per pair vs the DP's O(w·(n+m)), and
    ``lb <= dtw`` always (same band ``w = max(radius, |n−m|)``), so
    filtering candidate pairs on ``lb <= threshold`` before the exact
    kernel discards most of a large pair budget without ever running
    the DP on them — exactly how MinHash banding fronts the exact
    Jaccard verify.

    ``LB(a, b) = Σ_i max(0, a_i − U_i, L_i − a_i)`` where ``U_i/L_i``
    are the max/min of ``b`` over the index window ``[i−w, i+w]``
    (positions beyond ``b``'s end clamp into the window; every DTW
    path must match ``a_i`` to SOME ``b_j`` with ``|i−j| <= w`` and
    costs are nonnegative, which is the whole proof — it holds for
    ragged lengths because the band is widened to ``|n−m|`` exactly
    like the DP's). Pure integer arithmetic — exact at any
    parallelism. Emits ``(key_a, key_b, n_a, n_b, band, lb)``.

    Asymmetric by construction (envelope on ``b``); callers wanting
    the tighter symmetric bound run it both ways and take the max.
    Rows-only (pinned: brute-force envelope reference AND the
    ``lb <= dtw`` invariant against :func:`dtw_distances` in pytest).
    Row contract: pairs with a missing/empty series are silently
    dropped, same as :func:`dtw_distances` (see its docstring).
    """
    ser = (
        df.select(
            F.col(key_col).alias("__k"),
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(value_col).cast("long").alias("v"),
            ).alias("__s"),
        )
        .groupBy("__k")
        .agg(
            F.expr("transform(array_sort(collect_list(__s)), x -> x.v)")
            .alias("__vals")
        )
        .localCheckpoint(eager=False)
    )
    ka, kb = pairs.columns[0], pairs.columns[1]
    joined = (
        pairs.select(F.col(ka).alias("key_a"), F.col(kb).alias("key_b"))
        .join(
            ser.select(
                F.col("__k").alias("key_a"), F.col("__vals").alias("__va")
            ),
            "key_a",
        )
        .join(
            ser.select(
                F.col("__k").alias("key_b"), F.col("__vals").alias("__vb")
            ),
            "key_b",
        )
        .select("key_a", "key_b", "__va", "__vb")
    )
    if n_partitions:
        joined = joined.repartition(n_partitions)
    rad = int(radius)

    def _lb_one(a, b):
        import numpy as np

        n, m = len(a), len(b)
        w = max(rad, abs(n - m))
        # U/L over b's sliding [i-w, i+w] window, clamped to [0, m)
        lo = np.clip(np.arange(n) - w, 0, m - 1)
        hi = np.clip(np.arange(n) + w + 1, 1, m)
        # prefix-extrema trick: window extrema via cummax from both ends
        # (O(n·w) naive is fine for witness sizes; use stride windows)
        U = np.empty(n, dtype=np.int64)
        L = np.empty(n, dtype=np.int64)
        for i in range(n):
            seg = b[lo[i]:hi[i]]
            U[i] = seg.max()
            L[i] = seg.min()
        over = np.maximum(a - U, 0)
        under = np.maximum(L - a, 0)
        return int(np.maximum(over, under).sum()), w

    def _lb_partition(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            res = []
            for ka_, kb_, va, vb in zip(
                pdf["key_a"], pdf["key_b"], pdf["__va"], pdf["__vb"]
            ):
                a = np.asarray(va, dtype=np.int64)
                b = np.asarray(vb, dtype=np.int64)
                if len(a) == 0 or len(b) == 0:
                    continue
                lb, w = _lb_one(a, b)
                res.append((ka_, kb_, len(a), len(b), w, lb))
            if res:
                yield pd.DataFrame(
                    res,
                    columns=["key_a", "key_b", "n_a", "n_b", "band", "lb"],
                )

    out_schema = (
        f"key_a {joined.schema['key_a'].dataType.simpleString()}, "
        f"key_b {joined.schema['key_b'].dataType.simpleString()}, "
        "n_a bigint, n_b bigint, band bigint, lb bigint"
    )
    return joined.mapInPandas(_lb_partition, schema=out_schema)


def conformal_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    season_lag: int = 7,
    alpha: float = 0.2,
) -> DataFrame:
    """X173 conformal prediction-interval pieces (split-conformal
    calibration, Vovk et al. 2005; Lei et al. 2018) over the
    seasonal-naive forecaster — the distribution-free interval the
    X74 backtest family lacks: nonconformity scores are the absolute
    seasonal-naive residuals ``r_t = |v_t − v_{t−lag}|``, and the
    interval half-width is the exact type-1 order statistic of the
    scores at rank ``k = ceil((1−alpha)·(n+1))`` (clamped to n —
    the finite-sample conformal correction), guaranteeing ≥(1−alpha)
    marginal coverage without any distributional assumption.

    Emits per key, all exact BIGINT: ``n_resid``, ``k``, ``q_hat``
    (the half-width, in value units), ``n_covered`` (scores ≤ q_hat —
    the in-sample coverage witness, ≥ k by construction).

    Scale shape: one key shuffle shared by the lag window and the
    per-``(key, score)`` count frame; the rank selection runs over
    the count frame (distinct-score-sized window per key, never
    row-sized) — the :func:`qq_shift_pieces` machinery applied per
    key. Oracled (windows + order statistics have an ANSI twin).
    """
    keys = list(keys)
    if not (0 < alpha < 1):
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    w = Window.partitionBy(*keys).orderBy(ts_col)
    v = F.col(value_col).cast("long")
    staged = (
        df.select(*keys, ts_col, v.alias("__y"))
        .withColumn("__yl", F.lag("__y", season_lag).over(w))
        .filter(F.col("__yl").isNotNull())
        .select(*keys, F.abs(F.col("__y") - F.col("__yl")).alias("__r"))
    )
    # lazy localCheckpoint: the cumulative frame and the per-key totals
    # both derive from this count frame — the pin makes the corpus
    # read once (same discipline as the rest of the family)
    counts = staged.groupBy(*keys, "__r").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).localCheckpoint(eager=False)
    wc = (
        Window.partitionBy(*keys)
        .orderBy("__r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = counts.withColumn(
        "__bef", F.coalesce(F.sum("__c").over(wc), F.lit(0)).cast("long")
    )
    totals = counts.groupBy(*keys).agg(
        F.sum("__c").cast("long").alias("n_resid")
    )
    # k = ceil((1-alpha)(n+1)) = (num*(n+1) + den - 1) div den with
    # alpha expressed exactly as a fraction over 10^6
    num = int(round((1.0 - alpha) * 1_000_000))
    kk = F.least(
        F.col("n_resid"),
        F.expr(
            f"CAST(({num} * (n_resid + 1) + {1_000_000 - 1}) "
            f"div {1_000_000} AS BIGINT)"
        ),
    ).alias("__kq")  # internal name: must never collide with a key col
    probes = totals.select(*keys, "n_resid", kk)
    hit = cum.join(probes, keys).filter(
        (F.col("__bef") < F.col("__kq"))
        & (F.col("__kq") <= F.col("__bef") + F.col("__c"))
    )
    return hit.select(
        *keys, "n_resid", F.col("__kq").alias("k"),
        F.col("__r").alias("q_hat"),
        (F.col("__bef") + F.col("__c")).alias("n_covered"),
    )


def croston_smooth(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    alpha: float = 0.1,
    n_partitions: int | None = None,
) -> DataFrame:
    """X174 Croston's method (Croston 1972) per key — THE forecasting
    baseline for INTERMITTENT series, which every smoother in the
    :func:`ewma`/:func:`holt_smooth`/:func:`holt_winters_seasonal`
    ladder handles badly: when most observations are zero (sparse
    purchases, sporadic sensor events, rare-token counts per bucket),
    plain exponential smoothing decays toward zero between demands
    and spikes on each one. Croston separates the signal into demand
    SIZE and demand INTERVAL, each exponentially smoothed only at
    demand points:

    on ``v_t > 0``:  ``z = alpha*v_t + (1-alpha)*z`` (size),
                     ``p = alpha*q + (1-alpha)*p`` (interval, q =
                     periods since the previous demand), ``q = 1``;
    on ``v_t = 0``:  states hold, ``q += 1``.

    Initialization: first demand sets ``z = v``, ``p = its period
    index + 1`` (periods from series start, the classic convention).
    Appends ``cr_size``, ``cr_interval``, ``cr_forecast = z/p`` (the
    per-period demand rate; NULL before the first demand). Negative
    values raise — Croston is defined for nonnegative demand.

    A recurrence per key on the per-key ordered map (module
    docstring); deterministic at any parallelism. Rows-only
    (order-recursive); pinned against a pure-Python reference in
    pytest.
    """
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    if not (0 < alpha <= 1):
        raise ValueError(f"need 0<alpha<=1, got {alpha}")
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("cr_size", DoubleType()),
            StructField("cr_interval", DoubleType()),
            StructField("cr_forecast", DoubleType()),
        ]
    )

    def _croston_one(v):
        n = len(v)
        zs = np.full(n, np.nan)
        ps = np.full(n, np.nan)
        z = p = None
        q = 0
        for t in range(n):
            x = float(v[t])
            if x < 0 or x != x:  # x != x is the import-free NaN test
                # NaN passed both the x<0 and x>0 checks and was
                # silently a zero-demand period, skewing cr_interval
                # (ADVICE r4) — the operator's strictness contract says
                # undefined demand is an input error, like negatives
                raise ValueError(
                    "croston_smooth: negative or NaN demand encountered"
                )
            q += 1
            if x > 0:
                if z is None:
                    z, p = x, float(q)
                else:
                    z = alpha * x + (1 - alpha) * z
                    p = alpha * q + (1 - alpha) * p
                q = 0
            if z is not None:
                zs[t], ps[t] = z, p
        return zs, ps

    def _croston(_, rows):
        import pandas as pd

        zs, ps = _croston_one(rows[value_col].to_numpy(np.float64))
        # nullable Float64 so pre-first-demand rows arrive as NULL,
        # not NaN (Spark distinguishes them)
        mask = np.isnan(zs)
        out = {}
        for c, arr in (
            ("cr_size", zs),
            ("cr_interval", ps),
            ("cr_forecast", zs / ps),
        ):
            out[c] = pd.array(arr, dtype="Float64")
            out[c][mask] = pd.NA
        return rows.assign(**out)

    return per_key_ordered_map(
        df, keys, [ts_col], _croston, out_schema, n_partitions
    )


def adf_pieces(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """X175 AUGMENTED Dickey-Fuller pieces (one lagged difference,
    drift form): ``Δy_t = c + γ·y_{t−1} + φ·Δy_{t−1} + ε`` — the form
    practitioners actually run when the series is autocorrelated (the
    plain X171 DF over-rejects there; the Δy lag soaks up the serial
    correlation). Emits the exact BIGINT normal-equation sums per
    key — ``n, s_y, s_d, s_z, s_yy, s_dd, s_yd, s_yz, s_dz, s_zz``
    with y = y_{t−1}, d = Δy_{t−1}, z = Δy_t — γ̂/φ̂/t solve
    caller-side in :func:`adf_scores` via the centered 2-regressor
    closed form. Rows with either lag missing drop (the first TWO
    observations of each key), matching the oracle's NOT NULL filter.

    Scale shape: ONE key shuffle shared by both lag windows and the
    aggregate — pure JVM expressions. Oracled.
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    v = F.col(value_col).cast("long")
    staged = (
        df.select(*keys, ts_col, v.alias("__v"))
        .withColumn("__y", F.lag("__v").over(w))
        .withColumn("__y2", F.lag("__v", 2).over(w))
        .filter(F.col("__y2").isNotNull())
    )
    y = F.col("__y")                       # y_{t-1}
    z = F.col("__v") - F.col("__y")        # dy_t
    d = F.col("__y") - F.col("__y2")       # dy_{t-1}
    return staged.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("s_y"),
        F.sum(d).cast("long").alias("s_d"),
        F.sum(z).cast("long").alias("s_z"),
        F.sum(y * y).cast("long").alias("s_yy"),
        F.sum(d * d).cast("long").alias("s_dd"),
        F.sum(y * d).cast("long").alias("s_yd"),
        F.sum(y * z).cast("long").alias("s_yz"),
        F.sum(d * z).cast("long").alias("s_dz"),
        F.sum(z * z).cast("long").alias("s_zz"),
    )


def adf_scores(pieces: DataFrame) -> DataFrame:
    """γ̂, φ̂ and γ's t-statistic from :func:`adf_pieces` — centered
    two-regressor OLS closed form, plain float projection (t < ~-2.86
    rejects the unit root at 5%, drift form). Null when degenerate
    (n < 4 or singular design)."""
    n = F.col("n").cast("double")
    syy = n * F.col("s_yy") - F.col("s_y") * F.col("s_y")
    sdd = n * F.col("s_dd") - F.col("s_d") * F.col("s_d")
    syd = n * F.col("s_yd") - F.col("s_y") * F.col("s_d")
    syz = n * F.col("s_yz") - F.col("s_y") * F.col("s_z")
    sdz = n * F.col("s_dz") - F.col("s_d") * F.col("s_z")
    szz = n * F.col("s_zz") - F.col("s_z") * F.col("s_z")
    det = syy * sdd - syd * syd
    gamma = (sdd * syz - syd * sdz) / det
    phi = (syy * sdz - syd * syz) / det
    # SS_res (n-scaled) = szz - gamma*syz - phi*sdz; s2 = SS/(n(n-3))
    s2 = (szz - gamma * syz - phi * sdz) / (n * (n - 3))
    ok = (F.col("n") >= 4) & (det > 0)
    return pieces.select(
        "*",
        F.when(ok, gamma).alias("gamma"),
        F.when(ok, phi).alias("phi"),
        F.when(
            ok & (s2 > 0), gamma / F.sqrt(s2 * n * sdd / det)
        ).alias("t_stat"),
    )


def pelt_changepoints(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    penalty_num: int = 1,
    penalty_den: int = 1,
    min_size: int = 2,
    n_partitions: int | None = None,
) -> DataFrame:
    """X176 OPTIMAL mean-shift changepoint segmentation via PELT
    (Killick, Fearnhead & Eckley 2012) — the exact-optimal companion
    to the greedy X168 :func:`binseg_changepoints`: minimizes
    ``Σ_segments cost(seg) + beta·(#changepoints)`` with the L2 cost
    ``cost(a,b) = Σy² − (Σy)²/n`` over ALL segmentations (binseg can
    miss the optimum; PELT cannot), in amortized O(n) per series via
    inequality pruning of candidate split points.

    Every comparison is EXACT: costs are rationals with denominator
    ``Π n_seg``, so the kernel compares Python ``Fraction``s
    (arbitrary precision) and the optimal segmentation is bit-stable
    at any parallelism — no float ever decides a split. The penalty
    is likewise a rational ``penalty_num/penalty_den`` in SQUARED
    value units (for micro-unit inputs, scale accordingly — e.g.
    BIC-style ``beta = 2·sigma²·ln n`` computed by the caller).

    Emits one row per segment: ``(keys, seg_idx, start_idx, end_idx,
    seg_sum, seg_n)`` — exact BIGINT pieces (the fitted level is
    ``seg_sum/seg_n``), so a no-changepoint series returns exactly
    one row. Rows-only (optimal DP recursion); pinned against a
    brute-force O(2^n) exhaustive-segmentation reference on short
    series plus an O(n²) unpruned DP on longer ones in pytest.

    Scale shape: the per-key ordered map (module docstring), one
    kernel call per series; PELT's pruning keeps the candidate
    set small under frequent changes (worst case O(n²) on
    change-free series, the documented PELT bound).
    """
    from fractions import Fraction

    keys = list(keys)
    if penalty_den <= 0 or penalty_num < 0:
        raise ValueError("penalty must be a nonnegative rational")
    if min_size < 1:
        raise ValueError(f"min_size must be >= 1, got {min_size}")
    src = df.select(*keys, ts_col, value_col)
    beta = Fraction(int(penalty_num), int(penalty_den))
    ms = int(min_size)

    def _pelt_one(v):
        n = len(v)
        pre = [0] * (n + 1)
        pre2 = [0] * (n + 1)
        for i, x in enumerate(v):
            xi = int(x)
            pre[i + 1] = pre[i] + xi
            pre2[i + 1] = pre2[i] + xi * xi

        def cost(a, b):  # segment [a, b)
            s = pre[b] - pre[a]
            return Fraction(pre2[b] - pre2[a]) - Fraction(s * s, b - a)

        # F[t] = optimal cost of v[:t] + beta per changepoint added
        F_ = [None] * (n + 1)
        F_[0] = -beta
        prev = [0] * (n + 1)
        cands = [0]
        for t in range(ms, n + 1):
            best = None
            arg = None
            for s in cands:
                if t - s < ms:
                    continue
                c = F_[s] + beta + cost(s, t)
                # ties -> earliest split (deterministic)
                if best is None or c < best:
                    best, arg = c, s
            F_[t] = best
            prev[t] = arg
            # PELT pruning: s can never be optimal again if even
            # without future penalty it already exceeds F[t]
            cands = [
                s
                for s in cands
                if s + ms > t or F_[s] + cost(s, t) <= best
            ]
            cands.append(t)
        # backtrack
        bounds = []
        t = n
        while t > 0:
            s = prev[t]
            bounds.append((s, t))
            t = s
        bounds.reverse()
        return bounds, pre

    def _pelt(kv, rows):
        import numpy as np
        import pandas as pd

        v = rows[value_col].to_numpy(np.int64)
        if len(v) < ms:
            return None
        bounds, pre = _pelt_one(v)
        return pd.DataFrame(
            [
                (*kv, si, a, b - 1, pre[b] - pre[a], b - a)
                for si, (a, b) in enumerate(bounds)
            ],
            columns=[
                *keys, "seg_idx", "start_idx", "end_idx", "seg_sum", "seg_n",
            ],
        )

    out_schema = (
        f"{key_ddl(src, keys)}, seg_idx bigint, start_idx bigint, "
        "end_idx bigint, seg_sum bigint, seg_n bigint"
    )
    return per_key_ordered_map(
        src, keys, [ts_col], _pelt, out_schema, n_partitions
    )


def whittaker_smooth(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    lam: float = 10.0,
    n_partitions: int | None = None,
) -> DataFrame:
    """X177 Whittaker-Eilers smoother per key (Whittaker 1923; Eilers
    2003, "A Perfect Smoother") — the remote-sensing community's
    standard gap-tolerant series smoother (NDVI/soil-moisture
    reconstruction lives on it, i.e. exactly the reference's product
    domain): minimize ``Σ w_t (y_t − z_t)² + λ Σ (Δ²z_t)²`` — a
    penalized least squares whose solution is the pentadiagonal
    system ``(W + λ D₂ᵀD₂) z = W y``. Unlike a moving average it has
    no phase lag, handles series ends gracefully, and ``λ`` tunes
    smoothness continuously.

    NULL values are handled the Whittaker way — weight 0 (the
    smoother interpolates them from the penalty alone), which is why
    the remote-sensing world uses it for cloudy/missing acquisitions:
    output ``wh_smooth`` is defined at EVERY row including null
    inputs. Series with fewer than 3 observed points pass through
    unsmoothed (the D₂ penalty needs 3).

    Runs on the per-key ordered map (module docstring); the solve is
    a dense SPD ``numpy.linalg.solve`` per series (exact
    same input → same bits at any parallelism; series length is
    task-bounded by the per-key contract — the O(n) banded Thomas
    solve is the documented escape for very long series). Rows-only;
    pinned against a normal-equations least-squares reference in
    pytest.
    """
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    if lam < 0:
        raise ValueError(f"lambda must be >= 0, got {lam}")
    out_schema = StructType(
        list(df.schema.fields) + [StructField("wh_smooth", DoubleType())]
    )

    def _wh_one(y, w):
        n = len(y)
        if int(w.sum()) < 3:
            return np.where(w > 0, y, np.nan)
        if lam == 0.0 and int(w.sum()) < n:
            # lam=0 with missing values makes A = diag(w) singular (a
            # zero-weight row has no penalty term to constrain it);
            # np.linalg.solve would raise an opaque LinAlgError inside
            # the executor (ADVICE r4). lam=0 means "no smoothing", so
            # pass observed values through and leave gaps NaN.
            return np.where(w > 0, y, np.nan)
        # D2: (n-2) x n second-difference matrix
        D = np.zeros((n - 2, n))
        idx = np.arange(n - 2)
        D[idx, idx] = 1.0
        D[idx, idx + 1] = -2.0
        D[idx, idx + 2] = 1.0
        A = np.diag(w) + lam * (D.T @ D)
        return np.linalg.solve(A, w * np.nan_to_num(y))

    def _wh(_, rows):
        import pandas as pd

        y = rows[value_col].to_numpy(np.float64)
        out = _wh_one(y, (~np.isnan(y)).astype(np.float64))
        col = pd.array(out, dtype="Float64")
        col[np.isnan(out)] = pd.NA
        return rows.assign(wh_smooth=col)

    return per_key_ordered_map(
        df, keys, [ts_col], _wh, out_schema, n_partitions
    )


def hampel_filter(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    half_window: int = 3,
    k: int = 3,
) -> DataFrame:
    """X178 Hampel identifier / despiker per key (Hampel 1974; the
    standard robust spike filter in sensor QC pipelines): a point is
    an outlier when it deviates from its centered-window median by
    more than ``k`` window-MADs — robust where a z-score despiker is
    wrecked by the very spikes it hunts (the median and MAD ignore
    them).

    EVERY decision is exact integer arithmetic on (micro-unit)
    values: the window median is carried DOUBLED (``med2 = a + b``,
    the :func:`rolling_median2` convention), per-window absolute
    deviations ``|2x − med2| = 2|x − med|`` are exact BIGINTs, their
    doubled median is ``mad4 = 4·MAD``, and the flag compares
    ``2·|2x_t − med2| > k·mad4`` — cross-multiplied, no float
    anywhere, so flags and replacements hash bit-stably on any
    engine. Emits ``n_win``, ``med2``, ``mad4``, ``is_out`` (0/1)
    and ``rep2`` (= ``med2`` when flagged else ``2·x`` — the doubled
    despiked series).

    Scale shape: ONE key shuffle; the centered window materializes
    ``2·half_window+1`` values per row (`collect_list` over the
    frame) and everything after is `array_sort` + higher-order
    Column functions — JVM-side, memory O(window) per row, the same
    bound as the exact rolling median. Degenerate windows (MAD = 0,
    e.g. constant neighborhoods) flag any deviation from the median,
    the classic Hampel convention. Oracled (DuckDB list windows).
    """
    keys = list(keys)
    if half_window < 1:
        raise ValueError(f"half_window must be >= 1, got {half_window}")
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc())
        .rowsBetween(-half_window, half_window)
    )
    v = F.col(value_col).cast("long")

    def med2_of(arr, n):
        mid = (n / 2).cast("int")
        return F.when(
            n % 2 == 1, 2 * F.element_at(arr, mid + 1)
        ).otherwise(F.element_at(arr, mid) + F.element_at(arr, mid + 1))

    out = (
        df.withColumn("__arr", F.array_sort(F.collect_list(v).over(w)))
        .withColumn("n_win", F.size("__arr").cast("long"))
        .withColumn(
            "med2", med2_of(F.col("__arr"), F.col("n_win")).cast("long")
        )
        .withColumn(
            "__dev",
            F.array_sort(
                F.transform(
                    "__arr", lambda x: F.abs(2 * x - F.col("med2"))
                )
            ),
        )
        .withColumn(
            "mad4", med2_of(F.col("__dev"), F.col("n_win")).cast("long")
        )
        .withColumn(
            "is_out",
            (2 * F.abs(2 * v - F.col("med2")) > F.lit(int(k)) * F.col("mad4"))
            .cast("long"),
        )
        .withColumn(
            "rep2",
            F.when(F.col("is_out") == 1, F.col("med2"))
            .otherwise(2 * v)
            .cast("long"),
        )
    )
    return out.drop("__arr", "__dev")
