"""Manifest-driven refresh: the HWM, affected months, schemas, retention
horizon and partition metrics come from commit metadata, and the state
they replace survives crashes and snapshot expiry."""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from c3s_sm_spark.plans.pipeline import TierPipeline
from c3s_sm_spark.sources.tableio import SnapshotTable
from c3s_sm_spark.synth import gen_points_raw

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def raw_points(spark):
    df = gen_points_raw(spark, 24, start="2019-10-01", end="2019-12-31").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def refreshed(spark, raw_points, tmp_path_factory):
    """Base path of a pipeline that ingested ``raw_points`` and refreshed
    every tier once. Tests read it as is or start from a copy."""
    base = str(tmp_path_factory.mktemp("refreshed") / "tp")
    p = TierPipeline(spark, base)
    p.ingest(raw_points)
    p.refresh()
    return base


def _copy(spark, base, dst) -> TierPipeline:
    """A pipeline on a file copy of ``base`` (manifests hold paths
    relative to each table root, so a copied tree is a valid pipeline)."""
    shutil.copytree(base, dst)
    return TierPipeline(spark, str(dst))


def _rows(df, key="doc_id"):
    return sorted(
        (r[key], str(r["ts"]), round(r["v_mean"], 9), r["nobs"], r["flags"])
        for r in df.select(key, "ts", "v_mean", "nobs", "flags").collect()
    )


def _jobs_during(spark, fn):
    """Spark jobs launched while ``fn`` runs (its own job group)."""
    sc = spark.sparkContext
    sc.setJobGroup("probe", "probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("untimed", "untimed")
    return out, list(sc.statusTracker().getJobIdsForGroup("probe"))


def test_read_schema_per_subtree_matches_inference(spark, tmp_path):
    """Each write records its schema; reads use it, launch no job, and
    give the columns, types and rows inference gave: FLOAT then DOUBLE
    widens, a column missing from earlier appends reads as NULL."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    ts = F.to_timestamp("ts")
    p.ingest(
        spark.createDataFrame(
            [("a", "2020-01-01 00:00:00", 1.5)], "doc_id string, ts string, v float"
        ).withColumn("ts", ts)
    )
    p.ingest(
        spark.createDataFrame(
            [("a", "2020-01-02 00:00:00", 2.25, "v2")],
            "doc_id string, ts string, v double, version string",
        ).withColumn("ts", ts)
    )
    subs = {SnapshotTable._subtree(f) for f in p.raw._files()}
    assert all(p.raw._subtree_schema(s) is not None for s in subs)
    df, jobs = _jobs_during(spark, lambda: p.raw.read(spark))
    assert jobs == []
    assert df.schema.simpleString() == (
        "struct<doc_id:string,ts:timestamp,v:double,pmonth:string,"
        "version:string>"
    )
    assert sorted((r["ts"].day, r["v"], r["version"]) for r in df.collect()) == [
        (1, 1.5, None),
        (2, 2.25, "v2"),
    ]
    # a subtree without a record falls back to inference
    for s in subs:
        os.remove(os.path.join(p.raw.data_dir, s, "_schema.json"))
    fresh = SnapshotTable(p.raw.root)
    assert fresh.read(spark).schema == df.schema


def test_point_read_range_over_masked_month_between_packed_months(
    spark, tmp_path, raw_points, refreshed
):
    """A bounded read spanning a tail-served month that sits between two
    packed months returns the tier's rows in ts order, through the
    driver-side decode (no Spark sort) and the distributed one."""
    p = _copy(spark, refreshed, tmp_path / "tp")
    p.pack_tier("daily")
    key = "doc0000000004"
    nov = raw_points.where(
        (F.col("doc_id") == key) & (F.col("ts") >= "2019-11-01")
        & (F.col("ts") < "2019-12-01")
    )
    p.ingest(nov.withColumn("v", F.col("v") + 7.0).withColumn("version", F.lit("v9")))
    p.refresh(["daily"])
    packed_subtrees = set(os.listdir(p.packed["daily"].data_dir))
    s = p.pack_tier("daily")
    summ = p.packed["daily"]._manifest(s)["summary"]
    assert summ["mode"] == "tail_append" and summ["masked_months"] == ["2019-11"]
    # the packed advance is metadata-only: no new data subtree
    assert set(os.listdir(p.packed["daily"].data_dir)) == packed_subtrees
    start, end = "2019-10-20", "2019-12-10 00:00:00"
    exp = [
        (r["ts"], r["v_mean"])
        for r in p.read_tier("daily")
        .where((F.col("doc_id") == key) & F.col("ts").between(start, end))
        .orderBy("ts")
        .collect()
    ]
    assert {t.month for t, _ in exp} == {10, 11, 12}
    for local in (None, False):
        got = [
            (r["ts"], r["v_mean"])
            for r in p.point_read(key, "daily", start=start, end=end,
                                  local_decode=local).collect()
        ]
        assert got == exp, local
    plan = p.point_read(key, "daily", start=start, end=end)._jdf.queryExecution()
    assert "Sort" not in plan.optimizedPlan().toString()


def test_crash_after_tier_commit_restores_bookkeeping(
    spark, tmp_path, raw_points, refreshed, monkeypatch
):
    """The tier commit advances the HWM before the lineage and metrics
    appends; a crash right after it must not lose the run's rows."""
    ref = TierPipeline(spark, refreshed)  # the same run without a crash

    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    orig = SnapshotTable.append
    crashed = []

    def append_once(tbl, df, summary=None):
        if tbl.root == p.lineage.root and not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash after the tier commit")
        return orig(tbl, df, summary)

    monkeypatch.setattr(SnapshotTable, "append", append_once)
    with pytest.raises(RuntimeError, match="injected"):
        p.refresh()
    assert p._hwm("daily") == p.raw.head()  # the tier commit landed
    assert p.lineage.head() is None and p.metrics.head() is None

    p2 = TierPipeline(spark, str(tmp_path / "tp"))  # fresh process
    rep = p2.refresh()
    assert rep["daily"].get("skipped") and rep["monthly"]["months"] == 3
    lin = p2.lineage.read(spark).where("status = 'ok'").collect()
    assert sorted(r["tier"] for r in lin) == ["daily", "dekadal", "monthly"]
    daily = next(r for r in lin if r["tier"] == "daily")
    assert daily["dst_snapshot"] == p2.tiers["daily"].head()
    assert daily["src_snapshot"] == p2.raw.head()
    met = p2.metrics.read(spark)
    assert met.where("tier = 'daily'").count() == 3  # one row per month
    n_metrics = met.count()
    for t in ("daily", "dekadal", "monthly"):
        assert _rows(p2.read_tier(t)) == _rows(ref.read_tier(t))
    cov = {r["tier"]: r for r in p2.coverage().collect()}
    assert cov["daily"]["n_rows"] == p2.read_tier("daily").count()
    # a further run finds nothing missing: no duplicate rows
    p2.refresh()
    assert p2.lineage.read(spark).where("status = 'ok'").count() == 3
    # maintain compacts the bookkeeping but keeps the records findable
    p2.maintain(keep_snapshots=1)
    p2.refresh()
    assert p2.lineage.read(spark).where("status = 'ok'").count() == 3
    assert p2.metrics.read(spark).count() == n_metrics


def test_retention_horizon_survives_expiry(
    spark, tmp_path, raw_points, refreshed
):
    """The retention horizon is a table property: after the lineage and
    tier snapshots are expired, a late row for an aged month still leaves
    the coarser tier's month untouched."""
    p = _copy(spark, refreshed, tmp_path / "tp")
    p.retention({"raw": 1}, as_of="2019-12")
    assert p.raw.properties()["retention_through"] == "2019-11"
    p.maintain(keep_snapshots=1)
    assert len(p.lineage.snapshots()) == 1
    before = _rows(p.read_tier("daily"))
    p.ingest(raw_points.where(F.col("ts") < "2019-10-02").limit(1))
    rep = p.refresh()
    assert rep["daily"].get("skipped_aged_months") == ["2019-10"]
    assert _rows(p.read_tier("daily")) == before
    # dropping the late row again through an older horizon never lowers
    # the recorded one
    assert p.retention({"raw": 1}, as_of="2019-11")["raw"]["through"] == "2019-10"
    assert p.raw.properties()["retention_through"] == "2019-11"


def test_status_hwm_is_the_refresh_hwm(spark, tmp_path, raw_points, refreshed):
    """``rollup_job status`` reports the HWM refresh uses, also for tiers
    that lag the daily tier."""
    spec = importlib.util.spec_from_file_location(
        "rollup_job", os.path.join(ROOT, "jobs", "rollup_job.py")
    )
    rollup_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rollup_job)
    p = _copy(spark, refreshed, tmp_path / "tp")
    p.ingest(
        raw_points.where(F.col("ts") >= "2019-12-01")
        .limit(5)
        .withColumn("v", F.col("v") + 1.0)
        .withColumn("version", F.lit("v9"))
    )
    p.refresh(["daily"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf), pytest.MonkeyPatch.context() as mp:
        # the file sizes come from the write-time stats, not from stat
        mp.setattr(os.path, "getsize", None)
        rollup_job.cmd_status(
            argparse.Namespace(base=p.base, master=None, cmd="status")
        )
    st = json.loads(buf.getvalue().strip().splitlines()[-1])
    for t in ("daily", "dekadal", "monthly"):
        assert st["tiers"][t]["hwm_snapshot"] == p._hwm(t)
    assert st["tiers"]["daily"]["runs"] == 2
    # live files and bytes come from the manifest and the stats records
    for t, tbl in p.tiers.items():
        files = tbl._files()
        assert st["tiers"][t]["files"] == len(files) > 0
        assert st["tiers"][t]["bytes"] == sum(
            os.path.getsize(os.path.join(tbl.root, f)) for f in files
        )
    assert st["tiers"]["dekadal"]["hwm_snapshot"] != p.tiers["daily"].head()


# ------------------------------------------------------ crash injection

#: where a commit is cut: after its data write (before ``_commit``),
#: after its manifest write (before the HEAD swap), after the HEAD swap
CRASH_POINTS = ("data", "manifest", "head")
#: keys whose series the converged state compares (the first three get
#: a December delta)
CRASH_KEYS = ("doc0000000003", "doc0000000004", "doc0000000005",
              "doc0000000011")


class _Crash(RuntimeError):
    pass


def _arm_crash(mp, root: str, point: str) -> list:
    """Make the next commit of the table at ``root`` raise once at
    ``point``; returns the list the firing is recorded in."""
    fired: list = []
    commit, replace = SnapshotTable._commit, SnapshotTable._replace

    def armed(tbl, at):
        if point == at and tbl.root == root and not fired:
            fired.append(at)
            raise _Crash(f"injected crash: {at}")

    def crashing_commit(tbl, *a, **kw):
        armed(tbl, "data")
        sid = commit(tbl, *a, **kw)
        armed(tbl, "head")
        return sid

    def crashing_replace(tbl, name, text):
        if name == "HEAD":
            armed(tbl, "manifest")
        replace(tbl, name, text)

    mp.setattr(SnapshotTable, "_commit", crashing_commit)
    mp.setattr(SnapshotTable, "_replace", crashing_replace)
    return fired


def _state(p: TierPipeline) -> dict:
    """Everything a re-run must reproduce exactly: tier, packed and tail
    rows, point reads (packed plus tail, or the tier) of sampled keys,
    and the run-independent lineage columns. Read on the driver with
    pyarrow; ``repr`` keeps floats exact and NaN comparable."""
    import pyarrow.parquet as pq

    def rows(tbl, columns=None):
        return sorted(
            repr(r)
            for f in tbl._files()
            for r in pq.read_table(os.path.join(tbl.root, f), columns=columns)
            .to_pylist()
        )

    return {
        "tiers": {t: rows(tbl) for t, tbl in p.tiers.items()},
        "packed": rows(p.packed["daily"]),
        "tail": rows(p.tails["daily"]),
        "reads": {k: repr(p.point_read(k, "daily").collect()) for k in CRASH_KEYS},
        "lineage": rows(p.lineage, ["tier", "n_months", "n_rows", "status", "note"]),
    }


@pytest.fixture(scope="module")
def crash_chain(spark, raw_points, refreshed, tmp_path_factory):
    """Crash-free stages, each a base path: ``ingested`` (refreshed,
    fully packed, a December delta ingested), ``refreshed`` (+ refresh),
    ``tail_packed`` (+ incremental pack), ``folded`` (+ fold); and
    ``states``, each stage's :func:`_state` once computed."""
    root = tmp_path_factory.mktemp("crash_chain")
    p = _copy(spark, refreshed, root / "ingested")
    p.pack_tier("daily")
    p.ingest(
        raw_points.where(
            F.col("doc_id").isin(*CRASH_KEYS[:3]) & (F.col("ts") >= "2019-12-01")
        )
        .withColumn("v", F.col("v") * 0.5 + 0.125)
        .withColumn("version", F.lit("v9"))
    )
    stages = {"ingested": p.base}
    for name, step in (
        ("refreshed", lambda p: p.refresh()),
        ("tail_packed", lambda p: p.pack_tier("daily")),
        ("folded", lambda p: p.pack_tier("daily", fold=True)),
    ):
        p = _copy(spark, p.base, root / name)
        step(p)
        stages[name] = p.base
    return {**stages, "states": {}}


# (commit cut, the table committing, start stage, the job, its result)
CRASH_COMMITS = {
    "refresh-daily": ("daily", "ingested", lambda p: p.refresh(), "refreshed"),
    "pack-tail": ("daily_tail", "refreshed", lambda p: p.pack_tier("daily"),
                  "tail_packed"),
    "pack-packed": ("daily_packed", "refreshed",
                    lambda p: p.pack_tier("daily"), "tail_packed"),
    "fold-truncate": ("daily_tail", "tail_packed",
                      lambda p: p.pack_tier("daily", fold=True), "folded"),
}


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("commit", list(CRASH_COMMITS))
def test_crash_at_commit_step_converges_on_rerun(
    spark, tmp_path, crash_chain, commit, point
):
    """A job cut at any step of one commit, re-run in a fresh pipeline,
    leaves the tables of the run that never crashed."""
    table, start, job, result = CRASH_COMMITS[commit]
    p = _copy(spark, crash_chain[start], tmp_path / "tp")
    tbl = SnapshotTable(os.path.join(p.base, table))
    head = tbl.head()
    with pytest.MonkeyPatch.context() as mp:
        fired = _arm_crash(mp, tbl.root, point)
        with pytest.raises(_Crash):
            job(p)
    assert fired == [point]
    assert (tbl.head() != head) == (point == "head")
    manifests = [f for f in os.listdir(tbl.man_dir) if f.startswith("snap-")]
    assert len(manifests) == len(tbl.snapshots()) + (point == "manifest")
    p = TierPipeline(spark, p.base)  # a fresh process
    job(p)
    states = crash_chain["states"]
    if result not in states:
        states[result] = _state(TierPipeline(spark, crash_chain[result]))
    assert _state(p) == states[result]
