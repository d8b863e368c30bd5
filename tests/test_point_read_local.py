"""Driver-side point reads: the key's files are picked from the HEAD
manifests and read with pyarrow, so a normal-sized read runs no Spark
job, and it returns what the Spark scan path returns."""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import math
import os
import random
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, IntegerType, LongType, ShortType, StringType, StructField,
    StructType,
)

from c3s_sm_spark.plans import pipeline
from c3s_sm_spark.plans.pipeline import TierPipeline
from c3s_sm_spark.synth import gen_points_raw

KEY = "doc0000000004"
#: a range whose ends fall inside packed chunks (CHUNK=16 below) and
#: that spans the tail-served November between two packed months
RANGE = ("2019-10-20", "2019-12-10 00:00:00")


@pytest.fixture(scope="module")
def raw_points(spark):
    df = gen_points_raw(spark, 12, start="2019-10-01", end="2019-12-31").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def bases(spark, raw_points, tmp_path_factory):
    """Base paths of the three read shapes, built once:

    - ``unpacked``: daily refreshed, never packed;
    - ``packed``: daily fully packed in 16-point chunks, then November
      re-ingested for ``KEY`` and packed incrementally, so November is
      a masked month served from the tail;
    - ``stale``: ``packed`` after one more ingest and refresh, so the
      packed table no longer matches the tier."""
    root = tmp_path_factory.mktemp("point_read_local")
    out = {name: str(root / name) for name in ("unpacked", "packed", "stale")}
    p = TierPipeline(spark, out["unpacked"])
    p.ingest(raw_points)
    p.refresh(["daily"])
    shutil.copytree(out["unpacked"], out["packed"])
    p = TierPipeline(spark, out["packed"])
    with pytest.MonkeyPatch.context() as mp:
        from c3s_sm_spark.functions import codecs

        mp.setattr(codecs, "CHUNK", 16)
        p.pack_tier("daily")
    nov = raw_points.where(
        (F.col("doc_id") == KEY) & (F.col("ts") >= "2019-11-01")
        & (F.col("ts") < "2019-12-01")
    )
    p.ingest(nov.withColumn("v", F.col("v") + 7.0).withColumn("version", F.lit("v9")))
    p.refresh(["daily"])
    p.pack_tier("daily")
    assert p.packed["daily"]._manifest(p.packed["daily"].head())["summary"][
        "masked_months"
    ] == ["2019-11"]
    shutil.copytree(out["packed"], out["stale"])
    p = TierPipeline(spark, out["stale"])
    p.ingest(raw_points.where(F.col("ts") >= "2019-12-20").withColumn(
        "version", F.lit("v9")))
    p.refresh(["daily"])
    return out


@pytest.fixture(scope="module")
def long_base(spark, raw_points, tmp_path_factory):
    """Base path of a pipeline whose key column is a bigint, daily
    refreshed and never packed."""
    base = str(tmp_path_factory.mktemp("long_key") / "tp")
    p = TierPipeline(spark, base)
    p.ingest(raw_points.withColumn(
        "doc_id", F.substring("doc_id", 4, 10).cast("long")
    ))
    p.refresh(["daily"])
    return base


def _jobs_during(spark, fn):
    """Spark jobs launched while ``fn`` runs. The job group is new for
    each call: the status tracker keeps finished jobs, so a reused group
    name would also count jobs that other tests ran under it."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("untimed", "untimed")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _series(rows):
    """Rows as comparable tuples; NaN compares equal to NaN here."""
    return [
        (r["doc_id"], r["ts"], "nan" if math.isnan(r["v_mean"]) else r["v_mean"])
        for r in rows
    ]


@pytest.mark.parametrize("shape", ["packed", "stale", "unpacked"])
def test_point_read_runs_no_spark_job(spark, bases, shape):
    p = TierPipeline(spark, bases[shape])
    rows, jobs = _jobs_during(
        spark, lambda: p.point_read(KEY, "daily", *RANGE).collect()
    )
    assert jobs == []
    assert {r["ts"].month for r in rows} == {10, 11, 12}


def test_local_point_read_equals_spark_path(spark, bases):
    """All three shapes, unbounded, bounded through edge chunks, and a
    key with no rows: same rows, order and schema as ``local_decode=False``."""
    for shape, base in bases.items():
        p = TierPipeline(spark, base)
        for key, bounds in ((KEY, (None, None)), (KEY, RANGE),
                            ("doc0000000007", ("2019-11-03 12:00:00", None)),
                            ("no-such-key", (None, None))):
            local = p.point_read(key, "daily", *bounds)
            dist = p.point_read(key, "daily", *bounds, local_decode=False)
            assert local.schema.simpleString() == dist.schema.simpleString()
            got, exp = _series(local.collect()), _series(dist.collect())
            assert got == exp, (shape, key, bounds)
            assert (len(got) > 0) == (key != "no-such-key"), (shape, key)
    # the packed read saw the tail's November, not the packed one
    p = TierPipeline(spark, bases["packed"])
    nov = p.read_tier("daily").where(
        (F.col("doc_id") == KEY) & (F.date_format("ts", "yyyy-MM") == "2019-11")
    )
    exp = sorted((r["ts"], r["v_mean"]) for r in nov.collect())
    got = [(r["ts"], r["v_mean"]) for r in p.point_read(KEY, "daily").collect()
           if r["ts"].month == 11]
    assert got == exp and len(exp) > 0


def test_bigint_key_hashes_at_stored_type(spark, raw_points, tmp_path):
    """An int literal against a BIGINT key column: the bucket is hashed
    at the stored type, on both the unpacked and the packed read."""
    raw_long = raw_points.withColumn(
        "doc_id", F.substring("doc_id", 4, 10).cast("long")
    )
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_long)
    p.refresh(["daily"])
    exp = p.read_tier("daily").where(F.col("doc_id") == 5).count()
    assert exp > 0
    for _ in ("unpacked", "packed"):
        df, jobs = _jobs_during(spark, lambda: p.point_read(5, "daily").collect())
        assert jobs == [] and len(df) == exp
        assert _series(df) == _series(
            p.point_read(5, "daily", local_decode=False).collect()
        )
        assert p.point_read(5, "daily").schema.simpleString() == (
            "struct<doc_id:bigint,ts:timestamp,v_mean:double>"
        )
        p.pack_tier("daily")


def _random_keys(kind):
    rng = random.Random(7)
    if kind == "string":
        chars = "az09_-ÿ€日本🙂"
        return ["".join(rng.choice(chars) for _ in range(rng.randrange(1, 40)))
                for _ in range(40)]
    return [rng.randrange(-(1 << 63), 1 << 63) for _ in range(40)]


_EDGES = {
    "string": (StringType(), ["", "a", "é", "日本語", "🙂", "x" * 100,
                              "ÿ€日🙂" * 40, "doc0000000004"]
               + _random_keys("string")),
    "bigint": (LongType(), [-(1 << 63), -(1 << 63) + 1, (1 << 63) - 1,
                            (1 << 63) - 2, 1 << 31, (1 << 31) - 1, -(1 << 31),
                            -(1 << 31) - 1, 1 << 32, 0, 1, -1, 5]
               + _random_keys("bigint")),
    "int": (IntegerType(), [-(1 << 31), -(1 << 31) + 1, (1 << 31) - 1, 0, 1,
                            -1, 5, 1 << 16, -(1 << 16)]),
    "short": (ShortType(), [-(1 << 15), (1 << 15) - 1, 0, 1, -1, 255, -256]),
    "byte": (ByteType(), [-128, -127, 127, 126, 0, 1, -1]),
}


@pytest.mark.parametrize("kind", list(_EDGES))
def test_driver_key_bucket_equals_kb(spark, tmp_path, monkeypatch, kind):
    """The driver-side bucket (Spark's XXH64 through Py4J) equals
    ``_kb`` evaluated by Spark over the same values, and computing it
    builds no DataFrame and runs no job."""
    key_type, values = _EDGES[kind]
    p = TierPipeline(spark, str(tmp_path / "kb"), n_buckets=13)
    df = spark.createDataFrame(
        [(v,) for v in values], StructType([StructField("k", key_type)])
    )
    exp = [r[0] for r in df.select(p._kb(F.col("k"))).collect()]

    def no_dataframe(*a, **kw):
        raise AssertionError("_key_bucket built a DataFrame")

    monkeypatch.setattr(spark, "createDataFrame", no_dataframe)
    got, jobs = _jobs_during(
        spark, lambda: [p._key_bucket(v, key_type) for v in values]
    )
    assert jobs == []
    assert [b for b, _ in got] == exp
    assert [k for _, k in got] == values


def test_mismatched_key_type_takes_spark_path(spark, bases, long_base):
    """A key whose Python type does not match the stored key type has no
    driver-side bucket; the read takes the Spark path and returns what
    ``local_decode=False`` returns."""
    p = TierPipeline(spark, bases["packed"])
    for key, key_type in ((4, StringType()), ("5", LongType()),
                          (True, LongType()), (1 << 63, LongType()),
                          (128, ByteType()), (4.0, IntegerType())):
        assert p._key_bucket(key, key_type) == (None, None), (key, key_type)
    got, jobs = _jobs_during(spark, lambda: p.point_read(4, "daily").collect())
    assert jobs
    assert _series(got) == _series(
        p.point_read(4, "daily", local_decode=False).collect()
    )
    p = TierPipeline(spark, long_base)
    got, jobs = _jobs_during(spark, lambda: p.point_read("5", "daily").collect())
    assert jobs and len(got) > 0
    assert _series(got) == _series(
        p.point_read("5", "daily", local_decode=False).collect()
    ) == _series(p.point_read(5, "daily").collect())


def test_over_cap_read_degrades_to_spark(spark, bases, monkeypatch):
    """Past the byte cap the read runs on Spark and returns the same rows."""
    p = TierPipeline(spark, bases["packed"])
    exp = _series(p.point_read(KEY, "daily", *RANGE).collect())
    monkeypatch.setattr(pipeline, "_LOCAL_READ_MAX_BYTES", 0)
    got, jobs = _jobs_during(
        spark, lambda: _series(p.point_read(KEY, "daily", *RANGE).collect())
    )
    assert jobs and got == exp and len(exp) > 0


def test_cli_read_takes_integer_key_on_driver_path(spark, long_base):
    """``rollup_job read --key 5`` on a bigint-key tier reads the key as
    an int: the same rows as ``point_read(5)``, and no Spark job. A key
    that is not an integer is a usage error."""
    spec = importlib.util.spec_from_file_location(
        "rollup_job",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs",
                     "rollup_job.py"),
    )
    rollup_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rollup_job)
    args = argparse.Namespace(base=long_base, master=None, cmd="read",
                              key="5", tier="daily", limit=10_000,
                              start=None, end=None)
    buf = io.StringIO()
    with pytest.MonkeyPatch.context() as mp, contextlib.redirect_stdout(buf):
        # the test session, not a getOrCreate that resets its confs
        mp.setattr(rollup_job, "get_spark", lambda **kw: spark)
        _, jobs = _jobs_during(spark, lambda: rollup_job.cmd_read(args))
        with pytest.raises(SystemExit, match="integer keys"):
            rollup_job.cmd_read(argparse.Namespace(**{**vars(args), "key": "d5"}))
    assert jobs == []
    exp = [
        {k: str(v) for k, v in r.asDict().items()}
        for r in TierPipeline(spark, long_base).point_read(5, "daily").collect()
    ]
    assert [json.loads(ln) for ln in buf.getvalue().splitlines()] == exp
    assert len(exp) > 0
