"""Seeded inputs for the TierPipeline benchmark.

Every table is a pure Column expression over ``spark.range`` with
``xxhash64`` as the PRNG, salted with the run's seed, so the same seed
gives the same rows at any parallelism. The seed picks three things: the
doc-id offset (which keys exist), the delta key subset of each cycle and
the point-read keys. Nothing here reads files from outside the checkout.

Two shapes:

- :func:`corpus` is the ``input_hint`` table ``(doc_id, tokens, n_tok,
  source)`` that ``synth.sequences_to_points`` explodes into raw points.
  Token counts are uniform in [64, 2048] and positions map to hours from
  ``synth.T0``, so about 59% of the points fall in the first month: the
  month skew the salted ingest exists for.
- :func:`daily_points` is the daily observation grid with gaps (one day in
  seven dropped) and ``version="v2"`` reprocessing duplicates (one row in
  fifty), the shape of ``synth.gen_points_raw``. Gap and duplicate choices
  hash ``(key, day)`` against a fixed epoch, so a month generated on its own
  equals the same month cut out of a longer history.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 50257
#: day index origin for daily_points' gap/duplicate hashing
EPOCH = "2019-01-01"
#: the delta cycle ingests the next month for 1 key in DELTA_DENOM
DELTA_DENOM = 10


def doc_offset(seed: int) -> int:
    """First doc id of the run: keys differ between seeds."""
    return (seed % 1000) * 1_000_000


def doc_id(seed: int, i: int) -> str:
    """The ``doc_id`` string of key ``i`` of a run (same format as synth)."""
    return f"doc{doc_offset(seed) + i:010d}"


def _h(seed: int, *cols) -> F.Column:
    return F.xxhash64(F.lit(seed), *cols)


def corpus(spark: SparkSession, n_docs: int, seed: int) -> DataFrame:
    """The input_hint table: ``n_docs`` documents from the seed's offset."""
    off = doc_offset(seed)
    rng = spark.range(off, off + n_docs)
    src_p = F.pmod(_h(seed, F.col("id"), F.lit("src")), F.lit(100))
    return rng.select(
        F.format_string("doc%010d", F.col("id")).alias("doc_id"),
        F.transform(
            F.sequence(
                F.lit(1),
                (F.lit(64) + F.pmod(_h(seed, F.col("id")), F.lit(1985))).cast("int"),
            ),
            lambda j: F.pmod(_h(seed, F.col("id"), j), F.lit(VOCAB)).cast("int"),
        ).alias("tokens"),
        F.when(src_p < 70, "cc")
        .when(src_p < 80, "wiki")
        .when(src_p < 88, "books")
        .when(src_p < 95, "code")
        .otherwise("forums")
        .alias("source"),
    ).select("doc_id", "tokens", F.size("tokens").cast("int").alias("n_tok"), "source")


def daily_points(
    spark: SparkSession,
    n_keys: int,
    seed: int,
    start: str,
    end: str,
    cycle: int | None = None,
) -> DataFrame:
    """Raw points ``(doc_id, cell, ts, v, flag, version)`` on a daily grid
    ``[start, end]``. With ``cycle`` set, only that cycle's seeded
    ``1/DELTA_DENOM`` of the keys."""
    off = doc_offset(seed)
    keys = spark.range(off, off + n_keys).select(
        F.format_string("doc%010d", F.col("id")).alias("doc_id")
    )
    if cycle is not None:
        keys = keys.where(
            F.pmod(_h(seed, F.col("doc_id"), F.lit(f"cycle{cycle}")), F.lit(DELTA_DENOM))
            == 0
        )
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_timestamp(F.lit(start)),
                F.to_timestamp(F.lit(end)),
                F.expr("interval 1 day"),
            )
        ).alias("ts")
    ).withColumn("day", F.datediff(F.col("ts"), F.lit(EPOCH)))
    base = (
        keys.crossJoin(F.broadcast(days))
        .where(F.pmod(_h(seed, "doc_id", F.col("day")), F.lit(7)) != 0)
        .select(
            "doc_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(2592)).cast("int").alias("cell"),
            "ts",
            (F.pmod(_h(seed, "doc_id", F.col("day"), F.lit("v")), F.lit(1000000)) / 10000.0)
            .cast("float")
            .alias("v"),
            F.when(F.pmod(_h(seed, "doc_id", F.col("day"), F.lit("f")), F.lit(3)) == 0, 256)
            .otherwise(768)
            .cast("int")
            .alias("flag"),
            "day",
        )
    )
    dups = (
        base.where(F.pmod(_h(seed, "doc_id", F.col("day"), F.lit("d")), F.lit(50)) == 0)
        .withColumn("v", (F.col("v") + F.lit(0.5)).cast("float"))
        .withColumn("version", F.lit("v2"))
    )
    return base.withColumn("version", F.lit("v1")).unionByName(dups).drop("day")


def month_range(year: int, month: int, n: int) -> tuple[str, str]:
    """``[first day, last day]`` of the ``n`` months starting at year-month."""
    import calendar

    last = year * 12 + month - 1 + n - 1
    ly, lm = last // 12, last % 12 + 1
    return (
        f"{year:04d}-{month:02d}-01",
        f"{ly:04d}-{lm:02d}-{calendar.monthrange(ly, lm)[1]:02d}",
    )


def read_plan(
    seed: int, n_keys: int, n_packed: int, n_tier: int, months: list[str],
    bounded_share: float,
) -> list[dict]:
    """Seeded point-read requests: key index (0..n_keys-1), tier and
    optional ``[start, end]``, in seeded order.

    ``n_packed`` reads go to the packed ``daily`` form, ``bounded_share``
    of them with month-aligned bounds; ``n_tier`` go to the unpacked
    ``dekadal`` tier. The counts are fixed, so every seed yields the same
    number of samples per path."""
    rnd = random.Random(seed)
    plan = []
    for i in range(n_packed + n_tier):
        req = {"key": rnd.randrange(n_keys), "tier": "daily", "start": None, "end": None}
        if i >= n_packed:
            req["tier"] = "dekadal"
        elif rnd.random() < bounded_share:
            lo = rnd.randrange(len(months))
            hi = rnd.randrange(lo, len(months))
            req["start"] = f"{months[lo]}-01 00:00:00"
            _, last = month_range(int(months[hi][:4]), int(months[hi][5:7]), 1)
            req["end"] = f"{last} 23:59:59"
        plan.append(req)
    rnd.shuffle(plan)
    return plan
