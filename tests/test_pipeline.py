"""SnapshotTable + TierPipeline: atomic snapshots, incremental refresh,
idempotent resume, lineage/metrics, packed point reads.

Mirrors the reference's end-to-end reshuffle + extend tests
(``/root/reference/tests/test_reshuffle.py``): build from a first slice of
dates, extend with a later slice, verify the final tiers equal a
from-scratch computation over the full input, and read a single key's
series back in time order.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from c3s_sm_spark.operators.dedup import keep_latest
from c3s_sm_spark.operators.rollup import cascade, rollup
from c3s_sm_spark.plans.pipeline import TierPipeline
from c3s_sm_spark.sources.tableio import SnapshotTable
from c3s_sm_spark.synth import gen_points_raw


# ------------------------------------------------------------ SnapshotTable


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), ["p"])
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "x int, p string")
    s1 = t.append(df1)
    df2 = spark.createDataFrame([(3, "a")], "x int, p string")
    s2 = t.append(df2)
    assert t.read(spark).count() == 3
    assert t.read(spark, s1).count() == 2
    assert [s["snapshot_id"] for s in t.snapshots()] == [s1, s2]
    t.rollback(s1)
    assert t.read(spark).count() == 2


def test_overwrite_partitions_is_selective_and_idempotent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), ["p"])
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "x int, p string"))
    t.overwrite_partitions(
        spark.createDataFrame([(10, "a"), (11, "a")], "x int, p string")
    )
    got = {(r["x"], r["p"]) for r in t.read(spark).collect()}
    assert got == {(10, "a"), (11, "a"), (2, "b")}
    # idempotent: same overwrite again -> same state
    t.overwrite_partitions(
        spark.createDataFrame([(10, "a"), (11, "a")], "x int, p string")
    )
    assert {(r["x"], r["p"]) for r in t.read(spark).collect()} == got


def test_incremental_read_is_file_diff(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), ["p"])
    s1 = t.append(spark.createDataFrame([(1, "a")], "x int, p string"))
    assert t.read_incremental(spark, None).count() == 1
    s2 = t.append(spark.createDataFrame([(2, "b"), (3, "b")], "x int, p string"))
    inc = t.read_incremental(spark, s1, s2)
    assert {r["x"] for r in inc.collect()} == {2, 3}
    assert t.read_incremental(spark, s2) is None


def test_partition_mismatch_rejected(tmp_path, spark):
    SnapshotTable(str(tmp_path / "t"), ["p"])
    with pytest.raises(ValueError):
        SnapshotTable(str(tmp_path / "t"), ["q"])


def _pq_table(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), ["p", "q"])
    t.append(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "a", "y"), (3, "b", "x")],
            "v int, p string, q string",
        )
    )
    return t


def test_overwrite_replace_value_prefixes(spark, tmp_path):
    t = _pq_table(spark, tmp_path)
    # the one-column prefix ('a',) supersedes BOTH (a,x) and (a,y) even
    # though the new data only writes rows into (a,x)
    t.overwrite_partitions(
        spark.createDataFrame([(10, "a", "x")], "v int, p string, q string"),
        replace_values=[("a",)],
    )
    assert {r["v"] for r in t.read(spark).collect()} == {10, 3}
    # (a, x) lies under ('a',): one prefix replaced
    assert t.snapshots()[-1]["summary"] == {"replaced_partitions": 1}
    # replace_values: declare (b,) replaced with zero rows -> dropped
    t.overwrite_partitions(
        spark.createDataFrame([], "v int, p string, q string"),
        replace_values=[("b",)],
    )
    assert {r["v"] for r in t.read(spark).collect()} == {10}


def test_overwrite_empty_prefix_replaces_every_partition(spark, tmp_path):
    t = _pq_table(spark, tmp_path)
    t.overwrite_partitions(
        spark.createDataFrame([(20, "c", "z")], "v int, p string, q string"),
        {"op": "rebuild"},
        replace_values=[()],
    )
    assert [(r["v"], r["p"], r["q"]) for r in t.read(spark).collect()] == [
        (20, "c", "z")
    ]
    m = t.snapshots()[-1]
    assert m["operation"] == "overwrite_partitions"
    assert m["summary"] == {"op": "rebuild", "replaced_partitions": 1}
    assert t.partitions() == {("c", "z")}


def test_unpartitioned_overwrite_and_compact(spark, tmp_path):
    """An unpartitioned table is the one partition ``()``: an overwrite
    replaces all of it (``None`` empties it), compaction squashes it."""
    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "x int"))
    assert t.partitions() == {()}
    s = t.overwrite_partitions(spark.createDataFrame([(7,), (8,)], "x int"))
    assert sorted(r["x"] for r in t.read(spark).collect()) == [7, 8]
    m = t._manifest(s)
    assert m["operation"] == "overwrite" and m["summary"] == {}
    # the earlier appends are superseded: an incremental read sees only
    # the overwrite's rows
    first = t.snapshots()[0]["snapshot_id"]
    assert sorted(r["x"] for r in t.read_incremental(spark, first).collect()) == [
        7, 8
    ]
    t.append(spark.createDataFrame([(9,)], "x int"))
    n_files = len(t._files())
    s = t.compact(spark, summary={"recorded": []})
    m = t._manifest(s)
    assert m["operation"] == "compact" and len(m["files"]) == 1
    assert m["summary"] == {"recorded": [], "rewritten_files": n_files,
                            "new_files": 1}
    assert sorted(r["x"] for r in t.read(spark).collect()) == [7, 8, 9]
    assert t.compact(spark) is None
    s = t.overwrite_partitions(None, {"op": "clear"})
    assert t._files() == [] and t._manifest(s)["operation"] == "overwrite"
    t.rollback(t.snapshots()[-2]["snapshot_id"])
    assert t.delete_partitions([()]) is not None and t._files() == []


def test_delete_partitions_prefix_match(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), ["p", "q"])
    t.append(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "a", "y"), (3, "b", "x")],
            "v int, p string, q string",
        )
    )
    # month-grain drop on a (p, q) table: ('a',) prefix-matches both subdirs
    t.delete_partitions([("a",)])
    assert {r["v"] for r in t.read(spark).collect()} == {3}


# ------------------------------------------------------------- TierPipeline


@pytest.fixture(scope="module")
def raw_points(spark):
    return gen_points_raw(spark, 40, start="2019-10-01", end="2019-12-31").cache()


def _expected_tiers(raw):
    """Independent from-scratch computation (no pipeline machinery)."""
    dd = keep_latest(raw, ["doc_id", "ts"], ["version"])
    daily = rollup(dd, ["doc_id"], "ts", "daily")
    dek = cascade(daily, ["doc_id"], "dekadal")
    mon = cascade(dek, ["doc_id"], "monthly")
    return daily, dek, mon


def _tier_rows(df):
    return {
        (r["doc_id"], str(r["ts"]), round(r["v_mean"], 9), r["nobs"], r["flags"])
        for r in df.select("doc_id", "ts", "v_mean", "nobs", "flags").collect()
    }


def test_full_build_then_extend_matches_scratch(spark, tmp_path, raw_points):
    early = raw_points.where(F.col("ts") < "2019-11-15")
    late = raw_points.where(F.col("ts") >= "2019-11-15")

    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(early)
    r1 = p.refresh()
    assert r1["daily"]["months"] > 0 and r1["monthly"]["months"] > 0

    # extend with the later slice — only new/affected months recompute:
    # November (boundary) + December, but NOT October
    p.ingest(late)
    r2 = p.refresh()
    assert r2["monthly"]["months"] == 2  # Nov + Dec, NOT Oct
    last_run = p.lineage.read(spark).orderBy(F.col("finished_at").desc()).head()["run_id"]
    touched = {
        r["pmonth"]
        for r in p.metrics.read(spark).where(F.col("run_id") == last_run).collect()
    }
    assert "2019-10" not in touched

    daily_e, dek_e, mon_e = _expected_tiers(raw_points)
    assert _tier_rows(p.read_tier("daily")) == _tier_rows(daily_e)
    assert _tier_rows(p.read_tier("dekadal")) == _tier_rows(dek_e)
    assert _tier_rows(p.read_tier("monthly")) == _tier_rows(mon_e)


def test_refresh_noop_when_no_new_data(spark, tmp_path, raw_points):
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points.where(F.col("ts") < "2019-10-20"))
    p.refresh()
    again = p.refresh()
    assert all(v.get("skipped") for v in again.values())


def test_crash_resume_is_idempotent(spark, tmp_path, raw_points):
    """Simulate dying between tiers: refresh daily only, then re-run all."""
    sub = raw_points.where(F.col("ts") < "2019-10-25")
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(sub)
    p.refresh(["daily"])  # "crash" before dekadal/monthly
    p2 = TierPipeline(spark, str(tmp_path / "tp"))  # fresh process
    rep = p2.refresh()
    assert rep["daily"].get("skipped")  # already folded
    assert rep["dekadal"]["months"] > 0
    _daily_e, _dek_e, mon_e = _expected_tiers(sub)
    assert _tier_rows(p2.read_tier("monthly")) == _tier_rows(mon_e)


def test_lineage_and_coverage(spark, tmp_path, raw_points):
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh()
    lin = p.lineage.read(spark)
    assert lin.where("status = 'ok'").count() == 3  # one row per tier
    cov = {r["tier"]: r for r in p.coverage().collect()}
    assert set(cov) == {"daily", "dekadal", "monthly"}
    assert str(cov["daily"]["period_from"]).startswith("2019-10-01")
    # daily n_points = deduped raw row count
    dd = keep_latest(raw_points, ["doc_id", "ts"], ["version"])
    assert cov["daily"]["n_points"] == dd.count()


def test_packed_point_read_range_prunes_chunks(spark, tmp_path, raw_points, monkeypatch):
    """Range reads drop whole packed blobs via (ts_min, ts_max) before
    decoding; small CHUNK forces multiple blobs per key so pruning has
    something to drop."""
    from c3s_sm_spark.functions import codecs

    monkeypatch.setattr(codecs, "CHUNK", 16)
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh(["daily"])
    p.pack_tier("daily")
    key = "doc0000000005"
    n_chunks = (
        p.packed["daily"].read(spark).where(F.col("doc_id") == key).count()
    )
    assert n_chunks > 2  # CHUNK=16 over ~80 days -> several blobs
    got = p.point_read(key, "daily", start="2019-11-01", end="2019-11-30").collect()
    exp = (
        p.read_tier("daily")
        .where(
            (F.col("doc_id") == key)
            & (F.col("ts") >= "2019-11-01")
            & (F.col("ts") <= "2019-11-30")
        )
        .orderBy("ts")
        .select("ts", "v_mean")
        .collect()
    )
    assert len(got) == len(exp) > 0
    for g, e in zip(got, exp):
        assert g["ts"] == e["ts"] and g["v_mean"] == e["v_mean"]
    # the sidecar predicate must appear in the plan (pre-decode pruning).
    # local_decode=False keeps the decode distributed so the packed scan
    # is visible in the final plan; the default (driver-local) path runs
    # the SAME pruned scan inside its bounded collect
    plan = (
        p.point_read(
            key, "daily", start="2019-11-01", end="2019-11-30",
            local_decode=False,
        )
        ._jdf.queryExecution()
        .toString()
    )
    assert "ts_min" in plan and "ts_max" in plan
    # and the driver-local decode agrees with the distributed decode
    dist = p.point_read(
        key, "daily", start="2019-11-01", end="2019-11-30", local_decode=False
    ).collect()
    assert [(r["ts"], r["v_mean"]) for r in got] == [
        (r["ts"], r["v_mean"]) for r in dist
    ]


def test_packed_point_read_matches_tier(spark, tmp_path, raw_points):
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh(["daily"])
    p.pack_tier("daily")
    key = "doc0000000003"
    got = p.point_read(key, "daily").collect()
    exp = (
        p.read_tier("daily")
        .where(F.col("doc_id") == key)
        .orderBy("ts")
        .select("ts", "v_mean")
        .collect()
    )
    assert len(got) == len(exp) > 0
    for g, e in zip(got, exp):
        assert g["ts"] == e["ts"]
        assert g["v_mean"] == pytest.approx(e["v_mean"], abs=0)  # bit-exact


# ----------------------------------------------------- retention/maintenance


def test_point_read_numeric_key_hits_right_bucket(spark, tmp_path, raw_points):
    """kb/bucket predicates must hash the literal AT the stored key dtype:
    xxhash64(int32) != xxhash64(int64), so an int-sized Python literal
    against a LongType key column would name the wrong hash bucket and
    the point read would silently return zero rows (ADVICE r3)."""
    raw_long = raw_points.withColumn(
        "doc_id", F.substring("doc_id", 4, 10).cast("long")
    )
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_long)
    p.refresh(["daily"])
    exp = p.read_tier("daily").where(F.col("doc_id") == 5).count()
    assert exp > 0
    # fallback (unpacked) path: kb partition predicate
    assert p.point_read(5, "daily").count() == exp
    # packed path: bucket predicate
    p.pack_tier("daily")
    assert p.point_read(5, "daily").count() == exp


def test_delete_partitions_is_metadata_only(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), ["p"])
    s1 = t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "x int, p string")
    )
    s2 = t.delete_partitions([("a",)])
    assert s2 is not None
    assert t.read(spark).select("p").distinct().collect()[0]["p"] == "b"
    # time travel still sees the dropped partition (no data removed)
    assert t.read(spark, s1).count() == 2
    assert t.delete_partitions([("zzz",)]) is None  # no-op -> no snapshot


def test_compact_merges_small_files_losslessly(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), ["p"])
    for i in range(3):
        t.append(
            spark.createDataFrame([(i, "a"), (i, "b")], "x int, p string")
        )
    before = {
        tuple(sorted(r.asDict().items()))
        for r in t.read(spark).collect()
    }
    n_files_before = len(t._files())
    snap = t.compact(spark, target_rows_per_file=1000)
    assert snap is not None
    after = {
        tuple(sorted(r.asDict().items()))
        for r in t.read(spark).collect()
    }
    assert before == after
    assert len(t._files()) < n_files_before
    assert t.compact(spark) is None  # already compact -> no-op


def test_expire_snapshots_reclaims_orphans(spark, tmp_path):
    import os as _os

    t = SnapshotTable(str(tmp_path / "t"), ["p"])
    t.append(spark.createDataFrame([(1, "a")], "x int, p string"))
    t.append(spark.createDataFrame([(2, "b")], "x int, p string"))
    t.delete_partitions([("a",)])
    dead = [
        f for f in {f for m in t.snapshots() for f in m["files"]}
        if f not in set(t._files())
    ]
    assert dead  # partition 'a' files are now orphaned at HEAD
    rep = t.expire_snapshots(keep_last=1)
    assert rep["expired"] == 2 and rep["files_deleted"] >= 1
    assert all(not _os.path.exists(_os.path.join(t.root, f)) for f in dead)
    assert len(t.snapshots()) == 1
    assert t.read(spark).collect()[0]["x"] == 2  # survivors intact


def test_retention_cascade_and_coverage_guard(spark, tmp_path, raw_points):
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)  # 2019-10 .. 2019-12
    p.refresh()
    months = lambda tbl: sorted(m for (m,) in tbl.partitions())  # noqa: E731
    assert months(p.raw) == ["2019-10", "2019-11", "2019-12"]
    rep = p.retention({"raw": 1, "daily": 2}, as_of="2019-12")
    # raw keeps only the newest month; daily keeps two
    assert months(p.raw) == ["2019-12"]
    assert months(p.tiers["daily"]) == ["2019-11", "2019-12"]
    assert rep["raw"]["dropped_months"] == 2
    # coarser tiers untouched
    assert months(p.tiers["monthly"]) == ["2019-10", "2019-11", "2019-12"]
    # lineage recorded with status=retention, and the refresh HWM is intact
    lin = p.lineage.read(spark)
    assert lin.where("status = 'retention'").count() == 2
    assert p.refresh() == {
        t: {"months": 0, "rows": 0, "skipped": True}
        for t in ("daily", "dekadal", "monthly")
    }


def test_retention_requires_coarser_coverage(spark, tmp_path, raw_points):
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh(["daily"])  # dekadal/monthly never built
    rep = p.retention({"daily": 1}, as_of="2019-12")
    # daily may not age out: no dekadal coverage exists for any month
    assert rep["daily"]["dropped_months"] == 0


def test_maintain_compacts_and_expires(spark, tmp_path, raw_points):
    p = TierPipeline(spark, str(tmp_path / "tp"))
    early = raw_points.where(F.col("ts") < "2019-11-15")
    late = raw_points.where(F.col("ts") >= "2019-11-15")
    p.ingest(early)
    p.refresh()
    p.ingest(late)
    p.refresh()
    before = _tier_rows(p.read_tier("daily"))
    rep = p.maintain(keep_snapshots=1)
    assert rep["raw"]["compacted"]
    assert _tier_rows(p.read_tier("daily")) == before
    # keep_snapshots=1 would cut raw to [compact], but maintain PROTECTS
    # the daily tier's HWM snapshot — expiring it would degrade the next
    # refresh to a full rebuild (and can resurrect retention-dropped
    # months). The chain keeps [hwm, compact]; the HWM stays resolvable.
    chain = [m["snapshot_id"] for m in p.raw.snapshots()]
    assert len(chain) == 2
    assert p._hwm("daily") in chain
    # with the HWM protected, a no-new-data refresh stays a cheap skip
    rep2 = p.refresh(["daily"])
    assert rep2["daily"].get("skipped") is True
    # bookkeeping tables are maintained too: lineage appends (2 refresh
    # runs) squash to a single-snapshot single-file-set table
    assert rep["lineage"]["compacted"]
    assert len(p.lineage.snapshots()) == 1
    assert p._hwm("daily") is not None  # lineage content survived


def test_refresh_survives_expired_hwm_snapshot(spark, tmp_path, raw_points):
    """expire_snapshots may remove the manifest a tier's HWM points at;
    the next refresh must degrade to a (correct, idempotent) full
    recompute instead of crashing on the missing manifest."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    early = raw_points.where(F.col("ts") < "2019-11-15")
    late = raw_points.where(F.col("ts") >= "2019-11-15")
    p.ingest(early)
    p.refresh()
    p.ingest(late)
    p.raw.expire_snapshots(keep_last=1)  # HWM snapshot manifest now gone
    rep = p.refresh()  # must not raise
    assert rep["daily"]["rows"] > 0
    daily_e, dek_e, mon_e = _expected_tiers(raw_points)
    assert _tier_rows(p.read_tier("monthly")) == _tier_rows(mon_e)


def test_compaction_does_not_trigger_full_recompute(spark, tmp_path, raw_points):
    """A compact commit rewrites existing rows; incremental refresh must
    NOT read the rewrite as fresh data (it would recompute every month
    after each maintenance run)."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points.where(F.col("ts") < "2019-11-15"))
    p.ingest(raw_points.where(F.col("ts") >= "2019-11-15"))
    p.refresh()
    assert p.raw.compact(spark, target_rows_per_file=10**9) is not None
    rep = p.refresh()
    assert rep["daily"].get("skipped"), rep  # no new DATA -> no recompute


def test_append_then_compact_rows_still_reach_tiers(spark, tmp_path, raw_points):
    """Rows appended after the HWM and compacted before the next refresh
    must still be folded in: compaction only rewrites files, it never
    removes logical rows, so the incremental delta must keep reading the
    pre-compaction files (which stay on disk until expire_snapshots)."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    early = raw_points.where(F.col("ts") < "2019-11-15")
    late = raw_points.where(F.col("ts") >= "2019-11-15")
    p.ingest(early)
    p.refresh()
    p.ingest(late)  # two file sets in some partitions now
    assert p.raw.compact(spark, target_rows_per_file=10**9) is not None
    rep = p.refresh()  # delta = the late append's (pre-compact) files
    assert rep["daily"]["rows"] > 0, rep
    daily_e, dek_e, mon_e = _expected_tiers(raw_points)
    assert _tier_rows(p.read_tier("daily")) == _tier_rows(daily_e)
    assert _tier_rows(p.read_tier("monthly")) == _tier_rows(mon_e)
    # and the now-caught-up refresh is a no-op
    assert p.refresh()["daily"].get("skipped")


def test_incremental_survives_compact_before_first_refresh(spark, tmp_path):
    """ADVICE r1 (high): ingest -> compact -> read_incremental lost the
    ingested rows entirely (delta emptied by the end-state file filter)."""
    t = SnapshotTable(str(tmp_path / "t"), ["p"])
    t.append(spark.createDataFrame([(1, "a"), (2, "a")], "x int, p string"))
    t.append(spark.createDataFrame([(3, "a")], "x int, p string"))
    assert t.compact(spark, target_rows_per_file=1000) is not None
    inc = t.read_incremental(spark, None)
    assert inc is not None
    assert {r["x"] for r in inc.collect()} == {1, 2, 3}


def test_incremental_respects_overwrite_and_delete_partitions(spark, tmp_path):
    """Delta files superseded by a later overwrite_partitions (or dropped
    by delete_partitions) inside the window must NOT be read back."""
    t = SnapshotTable(str(tmp_path / "t"), ["p"])
    s0 = t.append(spark.createDataFrame([(1, "a")], "x int, p string"))
    t.append(spark.createDataFrame([(2, "a"), (3, "b")], "x int, p string"))
    t.overwrite_partitions(
        spark.createDataFrame([(20, "a")], "x int, p string")
    )
    inc = t.read_incremental(spark, s0)
    # partition a's append (x=2) was superseded; b's append survives
    assert {r["x"] for r in inc.collect()} == {20, 3}
    t.delete_partitions([("b",)])
    inc2 = t.read_incremental(spark, s0)
    assert {r["x"] for r in inc2.collect()} == {20}


def test_refresh_skips_months_aged_out_of_source(spark, tmp_path, raw_points):
    """A late row for a month that retention already dropped from raw
    must NOT trigger a recompute of that month from the now-partial raw
    table — that would overwrite correct daily/dekadal/monthly history
    with a rollup of the single late row."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)  # 2019-10..12
    p.refresh()
    before = _tier_rows(p.read_tier("daily"))
    p.retention({"raw": 1}, as_of="2019-12")  # raw keeps only 2019-12
    # one late/reprocessed point for the aged-out month arrives
    late = raw_points.where(F.col("ts") < "2019-10-02").limit(1)
    assert late.count() == 1
    p.ingest(late)
    rep = p.refresh()
    assert rep["daily"].get("skipped_aged_months") == ["2019-10"]
    # daily history for the dropped month is untouched
    assert _tier_rows(p.read_tier("daily")) == before
    # retention lineage records the pre-drop snapshot (src != dst)
    lin = p.lineage.read(spark).where("status = 'retention'").head()
    assert lin["src_snapshot"] != lin["dst_snapshot"]
    assert lin["note"] == "2019-11"


def test_coverage_reflects_retention_drops(spark, tmp_path, raw_points):
    """Months aged out by retention() must leave per-tier coverage: the
    tombstone metrics row supersedes the month's last refresh stats."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)  # 2019-10..12
    p.refresh()
    rep = p.retention({"daily": 1}, as_of="2019-12")
    assert rep["daily"]["dropped_months"] == 2
    cov = {r["tier"]: r.asDict() for r in p.coverage().collect()}
    truth = p.read_tier("daily").count()
    assert cov["daily"]["n_rows"] == truth
    assert str(cov["daily"]["period_from"]).startswith("2019-12")


def test_coverage_not_inflated_by_rerefresh(spark, tmp_path, raw_points):
    """Each refresh appends metrics rows for the whole overwritten month;
    coverage must report the CURRENT state, not the sum across runs."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    early = raw_points.where(F.col("ts") < "2019-10-20")
    late = raw_points.where(
        (F.col("ts") >= "2019-10-20") & (F.col("ts") < "2019-11-01")
    )
    p.ingest(early)
    p.refresh(["daily"])
    p.ingest(late)
    p.refresh(["daily"])  # October recomputed+overwritten a second time
    cov = {r["tier"]: r.asDict() for r in p.coverage().collect()}
    truth = p.read_tier("daily").count()
    assert cov["daily"]["n_rows"] == truth


def test_table_properties_stamped_and_relational(spark, tmp_path, raw_points):
    """F6: each tier table carries the reference-style product attrs as
    table properties, readable relationally and surviving re-open."""
    from c3s_sm_spark.functions.product_attrs import global_attrs

    p = TierPipeline(spark, str(tmp_path / "tp"))
    props = p.tiers["daily"].properties()
    assert props["temporal_sampling"] == "DAILY"
    assert props["product_full_name"] == global_attrs("daily", "TCDR")[
        "product_full_name"
    ]
    rel = {
        (r["tier"], r["key"]): r["value"]
        for r in p.table_properties().collect()
    }
    assert rel[("monthly", "temporal_sampling")] == "MONTHLY"
    assert rel[("dekadal", "resolution")] == "0.25 degree"
    # user-set properties merge and persist across re-open
    p.tiers["daily"].set_properties({"owner": "pipeline"})
    p2 = TierPipeline(spark, str(tmp_path / "tp"))
    assert p2.tiers["daily"].properties()["owner"] == "pipeline"
    assert p2.tiers["daily"].properties()["temporal_sampling"] == "DAILY"


def test_pack_tier_incremental_appends_tail_not_reencode(
    spark, tmp_path, raw_points
):
    """After a refresh that touched a few keys, the incremental pack
    must APPEND the delta to the unpacked tail (masking the delta months
    out of the packed blobs) without re-encoding any packed file — and
    every key must read back identically to the tier rows."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh()
    s1 = p.pack_tier("daily")
    assert p.packed["daily"]._manifest(s1)["summary"]["mode"] == "full"
    packed_files_before = set(p.packed["daily"]._files(s1))
    # late arrivals: TWO docs only, in a brand-new month (2020-01) so the
    # refresh delta contains just those docs' rows
    late = (
        raw_points.where(F.col("doc_id").isin("doc0000000001", "doc0000000002"))
        .where(F.col("ts") < "2019-10-05")
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 95 DAYS"))
    )
    p.ingest(late)
    p.refresh()
    s2 = p.pack_tier("daily")
    man = p.packed["daily"]._manifest(s2)["summary"]
    assert man["mode"] == "tail_append"
    assert man["masked_months"] == ["2020-01"]
    # zero re-encoding: the packed data files are untouched
    assert set(p.packed["daily"]._files(s2)) == packed_files_before
    # the tail holds only the delta month's rows
    tail_rows = p.tails["daily"].read(spark)
    assert {r["pmonth"] for r in tail_rows.select("pmonth").distinct().collect()} == {"2020-01"}
    # parity: every key (touched or not) reads back equal to tier rows
    for key in ("doc0000000001", "doc0000000002", "doc0000000007"):
        got = {
            (str(r["ts"]), round(r["v_mean"], 9))
            for r in p.point_read(key, "daily").collect()
        }
        exp = {
            (str(r["ts"]), round(r["v_mean"], 9))
            for r in p.read_tier("daily")
            .where(F.col("doc_id") == key)
            .collect()
        }
        assert got == exp and got
    # re-pack with no new data: data-free commit, still served packed
    s3 = p.pack_tier("daily")
    assert s3 == s2  # already current -> no new snapshot
    # an explicit fold re-encodes everything and truncates the tail
    s4 = p.pack_tier("daily", fold=True)
    man4 = p.packed["daily"]._manifest(s4)["summary"]
    assert man4["mode"] == "full" and "masked_months" not in man4
    assert not p.tails["daily"]._files()
    for key in ("doc0000000001", "doc0000000007"):
        got = {
            (str(r["ts"]), round(r["v_mean"], 9))
            for r in p.point_read(key, "daily").collect()
        }
        exp = {
            (str(r["ts"]), round(r["v_mean"], 9))
            for r in p.read_tier("daily")
            .where(F.col("doc_id") == key)
            .collect()
        }
        assert got == exp and got


def test_pack_tier_tail_month_overwrite_not_accumulate(
    spark, tmp_path, raw_points
):
    """The LSM tail's subtlest contract: a month touched by TWO
    successive incremental packs must hold only the LATEST refresh's
    rows (month-grain overwrite) — naive appends would serve the
    superseded version alongside the new one. Sequence: full pack;
    delta month M1 -> tail; delta month M2 -> tail; re-ingest M1 with
    HIGHER-version rows (keep-latest flips the survivor) -> tail M1
    replaced, M2 untouched; point reads match the tier bit-for-bit
    throughout."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh(["daily"])
    p.pack_tier("daily")
    key = "doc0000000001"
    base = raw_points.where(F.col("doc_id") == key).where(
        F.col("ts") < "2019-10-05"
    )
    # delta 1: new month 2020-01
    p.ingest(base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 95 DAYS")))
    p.refresh(["daily"])
    p.pack_tier("daily")
    # delta 2: new month 2020-02
    p.ingest(base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 126 DAYS")))
    p.refresh(["daily"])
    p.pack_tier("daily")
    man = p.packed["daily"]._manifest(p.packed["daily"].head())["summary"]
    assert man["masked_months"] == ["2020-01", "2020-02"]
    # delta 3: REPROCESS 2020-01 with higher version + shifted values —
    # keep-latest makes these the survivors, the refresh overwrites the
    # month, and the tail's 2020-01 partition must be REPLACED
    p.ingest(
        base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 95 DAYS"))
        .withColumn("v", F.col("v") + 100.0)
        .withColumn("version", F.lit("v9"))
    )
    p.refresh(["daily"])
    s = p.pack_tier("daily")
    man = p.packed["daily"]._manifest(s)["summary"]
    assert man["mode"] == "tail_append"
    assert man["masked_months"] == ["2020-01", "2020-02"]
    tail_rows = p.tails["daily"].read(spark)
    jan = tail_rows.where(F.col("pmonth") == "2020-01")
    # replaced, not accumulated: exactly one row per (doc, day), values
    # from the v9 reprocess
    assert jan.groupBy("doc_id", "ts").count().where(
        F.col("count") > 1
    ).count() == 0
    assert jan.where(F.col("v_mean") < 100).count() == 0
    got = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.point_read(key, "daily").collect()
    }
    exp = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.read_tier("daily").where(F.col("doc_id") == key).collect()
    }
    assert got == exp and got
    # and the distributed-decode path agrees (exercises the Spark-side
    # mask + tail union too)
    got_dist = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.point_read(key, "daily", local_decode=False).collect()
    }
    assert got_dist == exp


def test_point_read_ignores_stale_tail_after_fold_crash(
    spark, tmp_path, raw_points
):
    """Crash ordering (pack_tier folds packed-commit FIRST, tail
    truncate second): a crash in between leaves tail rows on disk while
    the packed manifest carries no mask — point reads must serve the
    fresh packed form and never union the stale tail (both decode
    paths). Simulated by re-appending poisoned rows to the tail AFTER a
    clean fold."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points.where(F.col("ts") < "2019-11-01"))
    p.refresh(["daily"])
    p.pack_tier("daily")
    key = "doc0000000002"
    late = (
        raw_points.where(F.col("doc_id") == key)
        .where(F.col("ts") < "2019-10-05")
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 95 DAYS"))
    )
    p.ingest(late)
    p.refresh(["daily"])
    p.pack_tier("daily")  # tail now holds 2020-01
    s = p.pack_tier("daily", fold=True)
    assert p.packed["daily"]._manifest(s)["summary"]["mode"] == "full"
    # simulate the crash leftover: stale (poisoned) tail rows reappear
    poison = p.read_tier("daily").where(
        (F.col("doc_id") == key) & (F.col("pmonth") == "2020-01")
    ).select(
        F.col("doc_id"),
        "ts",
        (F.col("v_mean") + 999).alias("v_mean"),
        "pmonth",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(32)).cast("int").alias("kb"),
    )
    p.tails["daily"].overwrite_partitions(poison, {"op": "crash-leftover"})
    exp = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.read_tier("daily").where(F.col("doc_id") == key).collect()
    }
    for local in (None, False):
        got = {
            (str(r["ts"]), round(r["v_mean"], 9))
            for r in p.point_read(key, "daily", local_decode=local).collect()
        }
        assert got == exp and got, local
    # and the NEXT incremental pack replaces the month it touches, so
    # the poison cannot resurface through a later mask either
    late2 = late.withColumn("v", F.col("v") + 1.0).withColumn(
        "version", F.lit("v9")
    )
    p.ingest(late2)
    p.refresh(["daily"])
    p.pack_tier("daily")
    exp2 = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.read_tier("daily").where(F.col("doc_id") == key).collect()
    }
    got2 = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.point_read(key, "daily").collect()
    }
    assert got2 == exp2 and got2


def test_pack_tier_auto_folds_when_tail_outgrows_packed(
    spark, tmp_path, raw_points
):
    """The fold policy: once the tail's bytes exceed tail_fold_frac of
    the packed bytes, the next incremental pack runs a full repack and
    truncates the tail."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points.where(F.col("ts") < "2019-11-01"))
    p.refresh(["daily"])
    p.pack_tier("daily")
    # big delta (the remaining months, all keys) -> tail would exceed
    # the fold fraction; force the threshold low to make it certain
    p.tail_fold_frac = 0.01
    p.ingest(raw_points.where(F.col("ts") >= "2019-11-01"))
    p.refresh(["daily"])
    s2 = p.pack_tier("daily")  # first incremental: tail was empty at
    # decision time (pre-append sizing), so this one appends
    assert p.packed["daily"]._manifest(s2)["summary"]["mode"] == "tail_append"
    late = (
        raw_points.where(F.col("doc_id") == "doc0000000001")
        .where(F.col("ts") < "2019-10-05")
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 95 DAYS"))
    )
    p.ingest(late)
    p.refresh(["daily"])
    s3 = p.pack_tier("daily")  # now the tail is over-threshold -> fold
    man = p.packed["daily"]._manifest(s3)["summary"]
    assert man["mode"] == "full"
    assert not p.tails["daily"]._files()
    key = "doc0000000001"
    got = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.point_read(key, "daily").collect()
    }
    exp = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.read_tier("daily").where(F.col("doc_id") == key).collect()
    }
    assert got == exp and got


@pytest.fixture(scope="module")
def clustered(spark, raw_points, tmp_path_factory):
    """Base path of a pipeline that ingested ``raw_points`` and refreshed
    every tier once (three months). Tests that change it use a copy."""
    base = str(tmp_path_factory.mktemp("clustered") / "tp")
    p = TierPipeline(spark, base)
    p.ingest(raw_points)
    p.refresh()
    return base


def test_tier_files_are_month_clustered(spark, clustered, monkeypatch):
    """A refresh writes each month as a few (kb, key, ts)-sorted files
    whose recorded kb range and values are their rows', and an
    unpacked-tier point read opens only the files holding the key's
    bucket."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import StringType

    p = TierPipeline(spark, clustered)
    cap = spark.sparkContext.defaultParallelism + 3 - 1
    for tier, tbl in p.tiers.items():
        files = tbl._files()
        assert 3 <= len(files) <= cap, (tier, files)
        assert not any("kb=" in f for f in files)
        for f in files:
            got = [
                (r["kb"], r["doc_id"], r["ts"])
                for r in pq.read_table(
                    os.path.join(tbl.root, f), columns=["kb", "doc_id", "ts"],
                    coerce_int96_timestamp_unit="us",
                ).to_pylist()
            ]
            assert got == sorted(got), (tier, f)
            st = tbl.file_stats(f)
            assert st["rows"] == len(got)
            assert (st["min"]["kb"], st["max"]["kb"]) == (got[0][0], got[-1][0])
            assert st["values"]["kb"] == sorted({r[0] for r in got})
    key = "doc0000000003"
    bucket, _ = p._key_bucket(key, StringType())
    tbl = p.tiers["daily"]
    holding = sorted(
        os.path.join(tbl.root, f)
        for f in tbl._files()
        if bucket in tbl.file_stats(f)["values"]["kb"]
    )
    assert 0 < len(holding) < len(tbl._files())
    opened = []
    read_table = pq.read_table
    monkeypatch.setattr(
        pq, "read_table",
        lambda path, **kw: opened.append(path) or read_table(path, **kw),
    )
    got = p.point_read(key, "daily").collect()
    assert sorted(opened) == holding
    monkeypatch.undo()
    assert got == p.point_read(key, "daily", local_decode=False).collect()
    assert len(got) == p.read_tier("daily").where(F.col("doc_id") == key).count()


def test_old_tier_layout_fails_loudly(spark, tmp_path):
    """A base dir whose tiers are (pmonth, kb)-partitioned is refused."""
    SnapshotTable(str(tmp_path / "tp" / "daily"), ["pmonth", "kb"])
    with pytest.raises(ValueError, match="tier layout changed"):
        TierPipeline(spark, str(tmp_path / "tp"))


def test_point_reads_equal_after_maintain(spark, clustered, tmp_path):
    """Compaction rewrites the tier files (kept sorted, with stats): the
    unpacked-tier point reads return what they returned before."""
    import shutil

    shutil.copytree(clustered, tmp_path / "tp")
    p = TierPipeline(spark, str(tmp_path / "tp"))
    reads = [
        (k, t) for k in ("doc0000000003", "doc0000000021") for t in ("daily", "dekadal")
    ]
    before = [p.point_read(k, t).collect() for k, t in reads]
    files = p.tiers["daily"]._files()
    assert p.maintain()["daily"]["compacted"]
    assert set(p.tiers["daily"]._files()).isdisjoint(files)
    assert all(p.tiers["daily"].file_stats(f) for f in p.tiers["daily"]._files())
    assert [p.point_read(k, t).collect() for k, t in reads] == before
    assert all(before)


def test_pack_tier_masks_months_of_overwrite_dropped_keys(
    spark, tmp_path, raw_points
):
    """ADVICE r2 (tail edition): a caller-level tier overwrite whose new
    files no longer contain some key must still stop the packed form
    serving that key's superseded rows — the overwritten MONTH enters
    the mask (named by removed files' pmonth path segments even when no
    added row exists for a key) and the tail holds only the survivors."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh(["daily"])
    p.pack_tier("daily")
    tier = p.tiers["daily"]
    month_df = tier.read(spark).where(F.col("pmonth") == "2019-10")
    survivor = "doc0000000003"
    # rewrite the month keeping ONE key: every other key's 2019-10 rows
    # are superseded with no replacement row in the delta
    tier.overwrite_partitions(
        month_df.where(F.col("doc_id") == survivor),
        {"op": "manual-overwrite"},
    )
    s = p.pack_tier("daily")
    man = p.packed["daily"]._manifest(s)["summary"]
    assert man["mode"] == "tail_append"
    assert "2019-10" in man["masked_months"]
    # parity for a key whose rows VANISHED from the month (its month is
    # named only by removed files): packed must stop serving them
    victim = "doc0000000007"
    got = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.point_read(victim, "daily").collect()
    }
    exp = {
        (str(r["ts"]), round(r["v_mean"], 9))
        for r in p.read_tier("daily")
        .where(F.col("doc_id") == victim)
        .collect()
    }
    assert got == exp
    assert not any(ts.startswith("2019-10") for ts, _ in got)
    # and the survivor still reads back correctly too
    got_s = {
        str(r["ts"]) for r in p.point_read(survivor, "daily").collect()
    }
    assert any(ts.startswith("2019-10") for ts in got_s)


def test_pack_tier_noop_after_compaction_and_full_after_retention(
    spark, tmp_path, raw_points
):
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh()
    s1 = p.pack_tier("daily")
    # compaction rewrites tier files without changing rows: pack_tier
    # must advance its source snapshot WITHOUT repacking anything
    assert p.tiers["daily"].compact(
        spark, target_rows_per_file=10**9, min_files=1
    )
    s2 = p.pack_tier("daily")
    m2 = p.packed["daily"]._manifest(s2)
    assert m2["summary"].get("noop") is True
    assert m2["files"] == p.packed["daily"]._manifest(s1)["files"]
    key = "doc0000000003"
    exp = p.read_tier("daily").where(F.col("doc_id") == key).count()
    assert len(p.point_read(key, "daily").collect()) == exp  # packed path
    # retention drops months: bucket delta can't express removals ->
    # full repack, dropped months gone from the packed form
    p.refresh(["dekadal"])
    p.retention({"daily": 1}, as_of="2019-12")
    s3 = p.pack_tier("daily")
    assert p.packed["daily"]._manifest(s3)["summary"]["mode"] == "full"
    pts = p.point_read(key, "daily").collect()
    assert pts and all(str(r["ts"]).startswith("2019-12") for r in pts)


def test_point_read_falls_back_when_packed_stale(spark, tmp_path, raw_points):
    p = TierPipeline(spark, str(tmp_path / "tp"))
    early = raw_points.where(F.col("ts") < "2019-11-01")
    late = raw_points.where(F.col("ts") >= "2019-11-01")
    p.ingest(early)
    p.refresh(["daily"])
    p.pack_tier("daily")
    key = "doc0000000003"
    n_before = len(p.point_read(key, "daily").collect())
    p.ingest(late)
    p.refresh(["daily"])  # daily tier moves on; packed table now stale
    got = p.point_read(key, "daily").collect()
    exp = p.read_tier("daily").where(F.col("doc_id") == key).count()
    assert len(got) == exp > n_before  # fresh rows visible, not stale pack
    p.pack_tier("daily")  # re-pack: packed path serves current data again
    assert len(p.point_read(key, "daily").collect()) == exp


# --------------------------------------------------- hardening (r4 review)


def test_commit_conflict_detection_and_append_retry(spark, tmp_path):
    """Optimistic concurrency: a commit whose base HEAD moved must raise
    (never silently orphan the other writer's snapshot); append retries
    and composes with the interleaved commit."""
    from c3s_sm_spark.sources.tableio import CommitConflictError, SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"), ["pmonth"])
    df1 = spark.createDataFrame([("a", "2024-01")], ["k", "pmonth"])
    s1 = t.append(df1)
    # writer B computed its file list against s1, but writer A commits
    # in between: B's commit must fail loudly
    t.append(spark.createDataFrame([("b", "2024-01")], ["k", "pmonth"]))
    import pytest as _pytest

    with _pytest.raises(CommitConflictError):
        t._commit(t._files(), "overwrite_partitions", {}, expected_parent=s1)
    # append's own retry path: both rows of a racing append survive
    assert t.read(spark).count() == 2


def test_expire_protect_and_crash_safe_ordering(spark, tmp_path):
    """expire_snapshots(protect=[hwm]) keeps the HWM's retained suffix;
    manifests of expired snapshots are gone, the kept root has no
    parent, and dead data files are removed only after the manifest
    rewrite (no retained manifest ever references deleted parquet)."""
    import os

    from c3s_sm_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"), ["pmonth"])
    snaps = []
    for i in range(4):
        snaps.append(
            t.append(spark.createDataFrame([(f"k{i}", "2024-01")], ["k", "pmonth"]))
        )
    hwm = snaps[1]
    rep = t.expire_snapshots(keep_last=1, protect=[hwm])
    chain = [m["snapshot_id"] for m in t.snapshots()]
    assert chain == snaps[1:]  # protected suffix kept
    assert rep["expired"] == 1
    assert t.snapshots()[0]["parent"] is None
    assert not os.path.exists(
        os.path.join(t.man_dir, f"snap-{snaps[0]}.json")
    )
    # every retained manifest's files still exist on disk
    for m in t.snapshots():
        for f in m["files"]:
            assert os.path.exists(os.path.join(t.root, f))
    # incremental read from the protected HWM still works
    assert t.read_incremental(spark, hwm).count() == 2


def test_read_incremental_expired_since_empty_table_returns_none(spark, tmp_path):
    """The expired-since full-read fallback must return None (not crash)
    when the current file set is empty — e.g. every month retained away."""
    from c3s_sm_spark.sources.tableio import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"), ["pmonth"])
    s1 = t.append(spark.createDataFrame([("a", "2024-01")], ["k", "pmonth"]))
    t.delete_partitions([("2024-01",)])
    t.expire_snapshots(keep_last=1)  # s1's manifest is gone
    assert t.read_incremental(spark, s1) is None


def test_pack_tier_empty_tier_returns_none(spark, tmp_path, raw_points):
    """pack_tier on a tier whose months were all retained away must
    return None, not crash on the empty read."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh(["daily"])
    months = sorted(
        r["pmonth"]
        for r in p.tiers["daily"].read(spark).select("pmonth").distinct().collect()
    )
    p.tiers["daily"].delete_partitions([(m,) for m in months])
    assert p.pack_tier("daily") is None


def test_ingest_rejects_null_key_and_ts(spark, tmp_path, raw_points):
    """Null keys would land in kb=__HIVE_DEFAULT_PARTITION__ and crash
    every later incremental pack; ingest fails loud instead."""
    import pytest as _pytest

    p = TierPipeline(spark, str(tmp_path / "tp"))
    bad = raw_points.withColumn(
        "doc_id", F.when(F.col("doc_id") == "doc0000000003", None).otherwise(F.col("doc_id"))
    )
    with _pytest.raises(Exception, match="null"):
        p.ingest(bad)


def test_point_read_schema_same_packed_and_fallback(spark, tmp_path, raw_points):
    """point_read's result shape must not depend on packed-table
    freshness: fallback (tier rows) and packed path project the same
    (doc_id, ts, v_mean) columns."""
    p = TierPipeline(spark, str(tmp_path / "tp"))
    p.ingest(raw_points)
    p.refresh(["daily"])
    fallback_cols = p.point_read("doc0000000003", "daily").columns
    p.pack_tier("daily")
    packed_cols = p.point_read("doc0000000003", "daily").columns
    assert fallback_cols == packed_cols == ["doc_id", "ts", "v_mean"]


def test_pipeline_requires_utc_session(spark, tmp_path):
    """pmonth derivation is session-timezone-dependent; a non-UTC session
    must be rejected at construction instead of silently partitioning
    edge-of-month rows differently between ingest and refresh."""
    import pytest as _pytest

    spark.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
    try:
        with _pytest.raises(ValueError, match="UTC"):
            TierPipeline(spark, str(tmp_path / "tp"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_salted_join_equals_plain_join(spark):
    """X158: the salted join must produce EXACTLY the plain join's rows
    (inner and left), and spread a hot key over the salt domain."""
    from pyspark.sql import functions as F

    from c3s_sm_spark.operators.salting import salted_join, with_salt

    # Zipf-hot: 80% of rows share key 'hot'; dim covers only some keys
    rows = [(f"id{i}", "hot" if i % 5 else f"cold{i % 7}", i) for i in range(500)]
    big = spark.createDataFrame(rows, "rid string, k string, v long")
    dim = spark.createDataFrame(
        [("hot", 1), ("cold1", 2), ("cold3", 3)], "k string, w int"
    )

    for how in ("inner", "left"):
        got = {
            tuple(r)
            for r in salted_join(big, dim, ["k"], id_col="rid", n_salts=8, how=how)
            .select("rid", "k", "v", "w")
            .collect()
        }
        want = {
            tuple(r)
            for r in big.join(dim, "k", how).select("rid", "k", "v", "w").collect()
        }
        assert got == want and len(got) > 0

    # spread: the hot key's rows land in >= 6 of 8 salt groups
    spread = (
        with_salt(big.where(F.col("k") == "hot"), "rid", 8, "s")
        .groupBy("s").count().count()
    )
    assert spread >= 6

    with __import__("pytest").raises(ValueError):
        salted_join(big, dim, ["k"], id_col="rid", how="full")
