"""Deterministic synthetic source tables (FIXTURES.md F1/F2; seed 42).

Everything is generated from pure Column expressions over ``spark.range`` —
``xxhash64`` as the PRNG — so generation is distributed, reproducible at
any parallelism level, and never loops on the driver. The same expressions
produce bit-identical tables at N=2e3 and N=1e12; only ``spark.range(n)``
changes.

``sequences`` is the BASELINE.json ``input_hint`` table:
``(doc_id string, tokens array<int32>, n_tok int32, source string)`` with a
Zipf-skewed ``source`` (~70% "cc") to exercise salting.

``sequences_to_points`` is the engine's image->point bridge: the reference
reads one global image per timestamp and flattens it to (gpi, value) rows
(``/root/reference/src/c3s_sm/interface.py:94-156``); here each token
position becomes one observation on a regular daily axis, so the per-row
token-array-equality invariant (raw tier vs source) is checkable exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42
VOCAB = 50257
#: epoch for position->timestamp mapping in sequences_to_points
T0 = "2019-10-01"


def _h(*cols) -> F.Column:
    """Deterministic 64-bit hash seeded with SEED."""
    return F.xxhash64(F.lit(SEED), *cols)


def gen_sequences(spark: SparkSession, n_docs: int, n_partitions: int | None = None) -> DataFrame:
    """The input_hint table at ``n_docs`` rows (seed-fixed, F1)."""
    rng = spark.range(0, n_docs, 1, n_partitions) if n_partitions else spark.range(n_docs)
    src_p = F.pmod(_h(F.col("id"), F.lit("src")), F.lit(100))
    return rng.select(
        F.format_string("doc%010d", F.col("id")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(1), (F.lit(64) + F.pmod(_h(F.col("id")), F.lit(1985))).cast("int")),
            lambda j: F.pmod(_h(F.col("id"), j), F.lit(VOCAB)).cast("int"),
        ).alias("tokens"),
        F.when(src_p < 70, "cc")
        .when(src_p < 80, "wiki")
        .when(src_p < 88, "books")
        .when(src_p < 95, "code")
        .otherwise("forums")
        .alias("source"),
    ).select(
        "doc_id",
        "tokens",
        F.size("tokens").cast("int").alias("n_tok"),
        "source",
    )


def sequences_to_points(seq: DataFrame) -> DataFrame:
    """Explode sequences into raw time-series points (raw tier input).

    Each token position ``p`` maps to timestamp ``T0 + (p div 24) days +
    (p mod 24) hours`` — 24 observations per day, like the reference's
    sub-daily satellite passes that the daily product averages. The value
    is the token id. ``posexplode`` keeps the position so the inverse
    (re-assembly for the token-array-equality invariant) is exact, and
    the 24:1 day fan-in is what gives the daily rollup's map-side partial
    aggregation real work (without it the "rollup" is a no-op shuffle of
    every raw point).
    """
    return seq.select(
        "doc_id",
        # exact integer surrogate key (SURVEY.md §1.5), parsed ONCE per
        # document before the explode: long group keys roughly halve the
        # tier-aggregation cost vs 14-char string keys, and unlike a hash
        # surrogate this is collision-free at any corpus size
        # length 18, not 10: %010d pads to a MINIMUM of 10 digits, so ids
        # >= 1e10 print 11+ digits and a 10-char slice would truncate —
        # colliding distinct docs above 1e10 (the advertised scale is 1e12)
        F.substring("doc_id", 4, 18).cast("bigint").alias("doc_key"),
        "source",
        F.posexplode("tokens").alias("pos", "token"),
    ).select(
        "doc_id",
        "doc_key",
        "source",
        "pos",
        "token",
        (
            F.to_timestamp(F.date_add(F.lit(T0), (F.col("pos") / 24).cast("int")))
            + F.make_interval(hours=F.pmod("pos", F.lit(24)))
        ).alias("ts"),
        F.col("token").cast("double").alias("v"),
        # bitmask flag analog (sensor bits, metadata.py:320-345): alternate
        # 768 (Bit8|Bit9) / 256 (Bit8) deterministically
        F.when(F.pmod(_h("doc_id", F.col("pos"), F.lit("f")), F.lit(3)) == 0, 256)
        .otherwise(768)
        .cast("int")
        .alias("flag"),
    )


def reassemble_tokens(points: DataFrame) -> DataFrame:
    """Inverse of :func:`sequences_to_points` — per-doc token array in
    position order (W1: deterministic order via sort_array, load-bearing
    for parity; cf. ``/root/reference/tests/test_reshuffle.py:76,159``)."""
    return points.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "token"))),
            lambda s: s["token"],
        ).alias("tokens_rebuilt")
    )


def gen_points_raw(
    spark: SparkSession,
    n_keys: int,
    start: str = "2019-10-01",
    end: str = "2020-03-31",
    dup_frac_denom: int = 50,
    n_partitions: int | None = None,
) -> DataFrame:
    """Raw observation table with gaps + reprocessing duplicates (F2).

    - regular daily grid ``[start, end]`` per key, a day dropped when
      ``hash(doc_id, day) % 7 == 0`` (the reference's missing-image
      gap, ``/root/reference/src/c3s_sm/interface.py:439-444``);
    - ~1/dup_frac_denom of rows duplicated as version "v2" with a
      different value (keep-latest dedup fixture,
      ``/root/reference/src/c3s_sm/interface.py:347-356``);
    - ``cell`` = ``pmod(xxhash64(doc_id), 2592)``, the 5°x5° cell analog
      (``/root/reference/src/c3s_sm/reshuffle.py:260-261``).
    """
    rng = spark.range(0, n_keys, 1, n_partitions) if n_partitions else spark.range(n_keys)
    keys = rng.select(F.format_string("doc%010d", F.col("id")).alias("doc_id"))
    days = (
        keys.sparkSession.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.to_timestamp(F.lit(start)),
                    F.to_timestamp(F.lit(end)),
                    F.expr("interval 1 day"),
                )
            ).alias("ts")
        )
        .withColumn("day_idx", F.datediff(F.col("ts"), F.lit(start)))
    )
    base = (
        keys.crossJoin(F.broadcast(days))
        .where(F.pmod(_h("doc_id", F.col("day_idx")), F.lit(7)) != 0)
        .select(
            "doc_id",
            F.pmod(F.xxhash64("doc_id"), F.lit(2592)).cast("int").alias("cell"),
            "ts",
            (F.pmod(_h("doc_id", F.col("day_idx"), F.lit("v")), F.lit(1000000)) / 10000.0)
            .cast("float")
            .alias("v"),
            F.when(F.pmod(_h("doc_id", F.col("day_idx"), F.lit("f")), F.lit(3)) == 0, 256)
            .otherwise(768)
            .cast("int")
            .alias("flag"),
            F.col("day_idx"),
        )
    )
    dups = (
        base.where(F.pmod(_h("doc_id", F.col("day_idx"), F.lit("d")), F.lit(dup_frac_denom)) == 0)
        .withColumn("v", (F.col("v") + F.lit(0.5)).cast("float"))
        .withColumn("version", F.lit("v2"))
    )
    return (
        base.withColumn("version", F.lit("v1"))
        .unionByName(dups)
        .drop("day_idx")
    )
