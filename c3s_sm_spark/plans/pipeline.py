"""The cascading-tier rollup pipeline: raw -> daily -> dekadal -> monthly.

This is the engine's R1 (img2ts reshuffle) + R3 (extend_ts incremental
append) in one resumable object — the reference's flagship lifecycle
(``/root/reference/src/c3s_sm/reshuffle.py:135-280`` and ``:67-133``).

Design (Spark-first, scale-first):

- every tier is a :class:`~c3s_sm_spark.sources.tableio.SnapshotTable`
  hive-partitioned by ``pmonth`` (the window-start month) and nothing
  else. Month is the natural overwrite unit: daily/dekadal/monthly
  windows never cross a month boundary (3rd dekads end at month end,
  ``/root/reference/src/c3s_sm/download.py:326-333``), so recomputing the
  affected months and *dynamic-partition-overwriting* them is exact,
  idempotent, and hence crash-resumable by simply re-running. Inside a
  month the rows are clustered, not partitioned: a refresh writes at
  most ``defaultParallelism + months - 1`` files, each one contiguous
  ``(kb, key)`` range sorted by ``(kb, key, ts)``, where ``kb`` is the
  key's hash bucket (a data column);
- each tier refresh is **incremental**: it diffs its *source* table's
  snapshots against the high-water mark (HWM) — the source snapshot the
  tier's own newest commit records as ``src_snapshot`` — and reads the
  affected months off the ``pmonth`` path segments of the delta files
  (file-level manifest diff — no scan), recomputes exactly those months
  from the source tier, and overwrites them. The HWM advances atomically
  with that overwrite; if the process dies between tiers, the next run
  redoes only the unfinished tiers (reference analog: the
  ``000_overview.yml`` period record consumed by extend,
  ``/root/reference/src/c3s_sm/reshuffle.py:94-133``);
- dekadal aggregates the *daily* tier and monthly the *dekadal* tier
  (continuous-aggregate cascade): each step shuffles ~10x fewer rows than
  raw, which is what keeps the cascade cheap at 10^12 points;
- raw ingest salts its repartition on ``(cell, salt)`` so a hot source
  (70% "cc" in the synth fixture) cannot pin a single task; AQE handles
  residual skew at runtime;
- lineage + per-partition metrics are tables themselves (reference S9/A4:
  yml summaries + coverage scan, ``/root/reference/src/c3s_sm/misc.py``).
  Nothing on the refresh path reads them: the per-month metrics are
  observed on the tier write itself, and the tier commit's summary
  carries the run's lineage fields and metrics, so a crash between that
  commit and the two bookkeeping appends is repaired by the next
  ``refresh`` or ``maintain`` from metadata alone. The retention horizon
  is a table property (``retention_through``), which survives snapshot
  expiry;
- point reads serve one key's series with no Spark job and no query:
  the driver hashes the key with Spark's own XXH64 through Py4J, picks
  the key's files from the HEAD manifests (packed ``bucket=<b>``
  blobs, the tail's masked months, or the tier files whose recorded
  ``kb`` values hold the key's bucket), reads them with pyarrow —
  row groups pruned by the ``kb`` and key statistics — decodes the blobs
  with the numpy codecs and returns a local relation. A scan past a
  byte cap degrades to the Spark scan with the distributed decode.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import time
import uuid

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, IntegerType, LongType, ShortType, StringType,
)

from c3s_sm_spark.functions.codecs import pack_series, unpack_series
from c3s_sm_spark.operators.dedup import keep_latest
from c3s_sm_spark.operators.rollup import cascade, rollup
from c3s_sm_spark.sources.tableio import SnapshotTable

#: tier name -> source tier (None = raw points table)
TIERS: dict[str, str | None] = {
    "daily": None,
    "dekadal": "daily",
    "monthly": "dekadal",
}

_LINEAGE_COLS = (
    "run_id string, tier string, src_snapshot string, dst_snapshot string, "
    "n_months int, n_rows bigint, wall_s double, finished_at double, "
    "status string, note string"
)
#: a point read runs on the driver while each of its scans (packed
#: blobs, tail rows, tier rows) selects at most this many bytes of files
#: (stat sizes); past it the read degrades to a Spark scan and the
#: distributed decode. Set at the measured break-even (4-vCPU VM,
#: local[4], one bucket's tier files): the driver read cost 0.56 s of
#: driver+JVM CPU against 1.79 s on Spark at 56 MB, 1.76 s against
#: 1.50 s at 78 MB
_LOCAL_READ_MAX_BYTES = 64 << 20
#: the seed ``F.xxhash64`` hashes with
_XXH64_SEED = 42
#: integer key types the driver-side bucket hashes, by width
_INT_BITS = {
    LongType(): 64, IntegerType(): 32, ShortType(): 16, ByteType(): 8,
}
#: salts per month in the raw ingest repartition
_N_SALTS = 8
_METRICS_COLS = (
    "run_id string, tier string, pmonth string, n_rows bigint, n_points bigint, "
    "ts_min timestamp, ts_max timestamp, written_at double"
)
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _pmonths(tbl: SnapshotTable, files=None) -> set[str]:
    """``pmonth`` values of a month-partitioned table's ``files`` (default:
    HEAD's), named by their paths (no scan)."""
    return {m for (m,) in tbl.partitions(files)}


def _month_aggs(months: list[str]) -> list[Column]:
    """Per-month row count, ``sum(nobs)`` and ts range (epoch micros) of
    a tier frame, as global aggregates ``DataFrame.observe`` accepts."""
    aggs = []
    for i, m in enumerate(months):
        in_m = F.col("pmonth") == m
        aggs += [
            F.count(F.when(in_m, 1)).alias(f"n_rows_{i}"),
            F.sum(F.when(in_m, F.col("nobs"))).alias(f"n_points_{i}"),
            F.min(F.when(in_m, F.unix_micros("ts"))).alias(f"ts_min_{i}"),
            F.max(F.when(in_m, F.unix_micros("ts"))).alias(f"ts_max_{i}"),
        ]
    return aggs


def _micros_ts(us: int | None) -> dt.datetime | None:
    return None if us is None else _EPOCH + dt.timedelta(microseconds=us)


def _epoch_us(col) -> np.ndarray:
    """Epoch microseconds of a pyarrow timestamp column (any unit)."""
    import pyarrow as pa

    return col.cast(pa.timestamp("us", getattr(col.type, "tz", None))).cast(
        pa.int64()
    ).to_numpy()


def _naive_utc(bound):
    """A point-read bound as a naive UTC pandas timestamp — the value
    Spark's cast of the same literal gives in the (UTC) session."""
    import pandas as pd

    t = pd.Timestamp(bound)
    return t.tz_convert("UTC").tz_localize(None) if t.tzinfo else t


class TierPipeline:
    """Resumable cascading rollup over snapshot tables under ``base_dir``."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        key: str = "doc_id",
        n_buckets: int = 32,
    ):
        # pmonth (the partition/recompute unit) is derived with
        # date_format(ts), which renders in the SESSION timezone: a
        # refresh run under a different tz than the ingest would compute
        # different affected months for edge-of-month rows and silently
        # skip them forever. The engine pins UTC (session.py); fail loud
        # on a foreign session instead of corrupting partitions.
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"TierPipeline requires an UTC session (pmonth derivation "
                f"is timezone-dependent); got spark.sql.session.timeZone="
                f"{tz!r} — build the session with c3s_sm_spark.session."
                f"get_spark or set the conf to 'UTC'"
            )
        self.spark = spark
        self.base = base_dir
        self.key = key
        self.n_buckets = n_buckets
        self.raw = SnapshotTable(os.path.join(base_dir, "raw"), ["pmonth"])
        # tiers are partitioned by the month alone, the refresh overwrite
        # unit; kb is a data column the files are clustered on (see
        # _compute_tier), so a month is a few files, not n_buckets
        try:
            self.tiers = {
                t: SnapshotTable(
                    os.path.join(base_dir, t), ["pmonth"], ("kb", key, "ts")
                )
                for t in TIERS
            }
        except ValueError as e:
            raise ValueError(
                f"{e}: the tier layout changed from (pmonth, kb) directories "
                "to month partitions of (kb, key, ts)-sorted files; rebuild "
                "the tiers from the raw table under a new base_dir"
            ) from e
        self.packed = {
            t: SnapshotTable(os.path.join(base_dir, f"{t}_packed"), ["bucket"])
            for t in TIERS
        }
        # LSM-style unpacked tail per packed tier (r4 verdict task 3):
        # incremental pack APPENDS delta rows here instead of re-encoding
        # whole hash buckets — a 10% key delta hash-spreads over every
        # bucket, so bucket-grain repack degenerated to a full repack's
        # cost. The tail is month-partitioned (refresh recomputes whole
        # months, so every delta month arrives complete and the tail
        # write is an idempotent month overwrite); kb stays a DATA column
        # the rows are sorted on, for file and row-group pruning — the
        # tail is bounded small by the fold policy, so partition-level kb
        # dirs would only bloat file counts. Gorilla/Prometheus hot-block
        # + sealed-block shape.
        self.tails = {
            t: SnapshotTable(
                os.path.join(base_dir, f"{t}_tail"), ["pmonth"],
                ("kb", "doc_id", "ts"),
            )
            for t in TIERS
        }
        #: fold (full repack + tail truncate) once the tail holds more
        #: than this fraction of the packed table's bytes — unpacked
        #: parquet runs ~3x the packed size per row, so 0.5 means the
        #: tail folds at roughly 1/6 of the rows
        self.tail_fold_frac = 0.5
        self.lineage = SnapshotTable(os.path.join(base_dir, "lineage"))
        self.metrics = SnapshotTable(os.path.join(base_dir, "metrics"))
        # F6: stamp each tier table with the reference's per-product
        # global attributes as table properties (once; merge is idempotent)
        from c3s_sm_spark.functions.product_attrs import global_attrs

        for t, tbl in self.tiers.items():
            if "product_full_name" not in tbl.properties():
                tbl.set_properties(global_attrs(t, "TCDR"))

    def _local_frame(self, rows: list[tuple], schema: str) -> DataFrame:
        """Driver-built rows as a DataFrame. Built from pandas (via
        Arrow) it is a local relation: ``createDataFrame(list)`` instead
        runs a parallelize job and starts Python workers. Object columns
        keep ints next to None and tz-aware timestamps exact."""
        import pandas as pd

        names = [f.split()[0] for f in schema.split(",")]
        pdf = pd.DataFrame(
            {n: pd.Series([r[i] for r in rows], dtype=object)
             for i, n in enumerate(names)}
        )
        return self.spark.createDataFrame(pdf, schema)

    def table_properties(self) -> DataFrame:
        """All tier tables' properties as one relation
        ``(tier, key, value)`` — the engine's relational surface for the
        reference's global attributes (F6): metadata joins/filters like
        any other table instead of living in opaque file headers."""
        rows = [
            (t, k, v)
            for t, tbl in self.tiers.items()
            for k, v in sorted(tbl.properties().items())
        ]
        return self._local_frame(rows, "tier string, key string, value string")

    # ---------------------------------------------------------------- ingest

    def ingest(self, points: DataFrame, summary: dict | None = None) -> str:
        """Append raw observation points.

        Expected columns: ``key, ts, v`` (+ optional ``flag``, ``version``,
        ``cell``). Adds the ``pmonth`` partition column and salts the
        write repartition on ``(pmonth, salt)`` so one hot month/source
        cannot serialize the write (north_rule skew requirement). Dedup is
        NOT done here — keep-latest runs at rollup read time so
        reprocessed rows appended later still win (reference
        ``sort_last``, ``/root/reference/src/c3s_sm/interface.py:347-356``).
        """
        # a null key names no series; a null ts has no month.
        # raise_error costs no extra pass — it fires inside the write job.
        bad = F.col(self.key).isNull() | F.col("ts").isNull()
        pmonth = F.when(
            bad,
            F.raise_error(
                F.lit(
                    f"ingest: null {self.key}/ts rows are not allowed "
                    "(partition values would be undefined)"
                )
            ),
        ).otherwise(F.date_format("ts", "yyyy-MM"))
        df = points.withColumn("pmonth", pmonth)
        salt = F.pmod(F.xxhash64(self.key, F.lit(17)), F.lit(_N_SALTS))
        df = df.repartition(F.col("pmonth"), salt)
        return self.raw.append(df, {"op": "ingest", **(summary or {})})

    # ----------------------------------------------------------------- state

    def _hwm(self, tier: str) -> str | None:
        """Source-table snapshot already folded into ``tier``: the
        ``src_snapshot`` on the tier's HEAD manifest. Refresh commits set
        it; every other commit inherits it (see tableio), so compaction,
        retention drops and snapshot expiry keep it."""
        tbl = self.tiers[tier]
        head = tbl.head()
        return tbl._manifest(head)["summary"].get("src_snapshot") if head else None

    def _retention_through(self, table_name: str) -> str | None:
        """Newest month dropped from ``table_name`` by retention (the
        table's ``retention_through`` property), or None."""
        tables = {"raw": self.raw, **self.tiers}
        return tables[table_name].properties().get("retention_through")

    def _source_table(self, tier: str) -> SnapshotTable:
        src = TIERS[tier]
        return self.raw if src is None else self.tiers[src]

    # ----------------------------------------------------------- bookkeeping

    def _last_refreshes(self) -> dict[str, dict]:
        """Each tier's newest refresh commit (the manifest whose summary
        carries lineage fields), found by a manifest walk from HEAD."""
        out = {}
        for tier, tbl in self.tiers.items():
            sid = tbl.head()
            while sid:
                m = tbl._manifest(sid)
                if "lineage" in m["summary"]:
                    out[tier] = m
                    break
                sid = m["parent"]
        return out

    @staticmethod
    def _recorded(tbl: SnapshotTable, wanted: set[tuple]) -> set[tuple]:
        """Which ``(run_id, tier)`` pairs of ``wanted`` the bookkeeping
        table ``tbl`` already holds: appends tag their summary with the
        pair, and a compaction lists the pairs it absorbed."""
        found: set[tuple] = set()
        sid = tbl.head()
        while sid and not wanted <= found:
            m = tbl._manifest(sid)
            summ = m["summary"]
            found.add((summ.get("run_id"), summ.get("tier")))
            found |= {tuple(p) for p in summ.get("recorded", [])}
            sid = m["parent"]
        return found & wanted

    def _record(self, tier: str, man: dict, tables=("lineage", "metrics")) -> None:
        """Append the lineage row and per-month metrics rows of the
        refresh commit ``man`` (built on the driver from its summary)."""
        summ = man["summary"]
        run_id, lin = summ["run_id"], summ["lineage"]
        tag = {"run_id": run_id, "tier": tier}
        if "lineage" in tables:
            row = (
                run_id, tier, summ["src_snapshot"], man["snapshot_id"],
                lin["n_months"], lin["n_rows"], lin["wall_s"],
                lin["finished_at"], "ok", None,
            )
            self.lineage.append(self._local_frame([row], _LINEAGE_COLS), tag)
        if "metrics" in tables and summ["metrics"]:
            rows = [
                (run_id, tier, m, n, pts, _micros_ts(lo), _micros_ts(hi),
                 lin["finished_at"])
                for m, n, pts, lo, hi in summ["metrics"]
            ]
            self.metrics.append(self._local_frame(rows, _METRICS_COLS), tag)

    def _recover_bookkeeping(self) -> None:
        """Re-append bookkeeping rows a crash lost. A tier commit
        advances the HWM before its lineage and metrics appends run, so a
        crash in between would otherwise drop that run's rows for good —
        the re-run sees the tier current and skips it. Metadata only
        (the same check as the streaming ``stream_batch_id`` replay)."""
        last = self._last_refreshes()
        wanted = {(m["summary"]["run_id"], t) for t, m in last.items()}
        for name in ("lineage", "metrics"):
            have = self._recorded(getattr(self, name), wanted)
            for tier, man in last.items():
                if (man["summary"]["run_id"], tier) not in have:
                    self._record(tier, man, (name,))

    # --------------------------------------------------------------- refresh

    def _compute_tier(self, tier: str, months: list[str]) -> DataFrame:
        """Recompute every ``tier`` window inside the given months from
        the source tier (delta tells us *which* months; the recompute
        itself must see every source row in them). The ``pmonth``
        predicate is pure partition pruning — unaffected directories are
        never listed, let alone read."""
        src_tbl = self._source_table(tier)
        src = src_tbl.read(self.spark).where(F.col("pmonth").isin(months))
        if TIERS[tier] is None:
            # raw -> daily: keep-latest dedup then first-level rollup
            # 'ts' is constant within a (key, ts) group — ordering by it
            # made the survivor partition-dependent; the value column gives
            # a deterministic keep-largest tiebreak when no version exists
            order = ["version"] if "version" in src.columns else ["v"]
            src = keep_latest(src, [self.key, "ts"], order)
            out = rollup(
                src,
                [self.key],
                "ts",
                tier,
                value_col="v",
                flag_col="flag" if "flag" in src.columns else None,
            )
        else:
            out = cascade(src, [self.key], tier)
        out = out.withColumn(
            "pmonth", F.date_format("ts", "yyyy-MM")
        ).withColumn("kb", self._kb())
        # one range shuffle over (pmonth, kb, key): each write task holds
        # one contiguous range, so the month-partitioned write emits at
        # most defaultParallelism + months - 1 files, each a (kb, key)
        # range of one month, sorted by the table's (kb, key, ts) order,
        # whose recorded kb values the point read picks files by. Not
        # one file per month (caps the write's parallelism at the month
        # count), and not spark.sql.shuffle.partitions ranges (a backfill
        # would pass the 32-path listing threshold again)
        n = self.spark.sparkContext.defaultParallelism
        return out.repartitionByRange(n, "pmonth", "kb", self.key)

    def _kb(self, col: str | Column | None = None) -> Column:
        """Key bucket: ``pmod(xxhash64(key), n_buckets)``.
        One definition shared by the tier writer, pack_tier, the packed
        table's ``bucket`` column and the Spark point-read plan, so
        bucket sets compose. The driver point read computes the same
        value with no query: :meth:`_key_bucket` calls Spark's XXH64
        through Py4J, pinned to this expression by a test."""
        target = self.key if col is None else col
        return F.pmod(F.xxhash64(target), F.lit(self.n_buckets)).cast("int")

    def refresh(self, tiers: list[str] | None = None) -> dict[str, dict]:
        """Incrementally fold new source snapshots into each tier.

        Returns per-tier stats. Safe to re-run at any point: each tier is
        an idempotent partition overwrite whose commit also advances the
        HWM; a run that dies before that commit leaves the HWM untouched
        so the next run redoes the same months, and one that dies after
        it gets its bookkeeping rows re-appended by the next run.
        """
        run_id = uuid.uuid4().hex[:12]
        report: dict[str, dict] = {}
        self._recover_bookkeeping()
        for tier in tiers or list(TIERS):
            t0 = time.perf_counter()
            src_tbl = self._source_table(tier)
            src_head = src_tbl.head()
            hwm = self._hwm(tier)
            if src_head is None or src_head == hwm:
                report[tier] = {"months": 0, "rows": 0, "skipped": True}
                continue
            # every tier (and raw) is partitioned by pmonth = the month of
            # ts, and every tier window nests inside its month, so the
            # months named by the delta files are exactly the partitions
            # to recompute
            months = sorted(
                _pmonths(src_tbl, src_tbl.incremental_files(hwm, src_head))
            )
            src_name = "raw" if TIERS[tier] is None else TIERS[tier]
            horizon = self._retention_through(src_name)
            if horizon is not None:
                aged = [m for m in months if m <= horizon]
                if aged:
                    # the source no longer holds these months in full —
                    # recomputing from the partial remainder would destroy
                    # the coarser history that justified the drop. Late
                    # rows older than the retention horizon are dropped by
                    # policy (the reference reprocesses such periods from
                    # the archive instead; here that is rollback + re-ingest).
                    months = [m for m in months if m > horizon]
                    report.setdefault(tier, {})["skipped_aged_months"] = aged
            if not months:
                report[tier] = {**report.get(tier, {}), "months": 0,
                                "rows": 0, "skipped": True}
                continue
            # per-partition metrics (A4 coverage analog) observed on the
            # write itself: each recomputed month is written whole
            obs = Observation(f"refresh-{tier}")
            out = self._compute_tier(tier, months).observe(
                obs, *_month_aggs(months)
            )

            def summary():  # called before the commit, inside this loop pass
                got = obs.get
                metrics = [
                    [m, got[f"n_rows_{i}"], got[f"n_points_{i}"],
                     got[f"ts_min_{i}"], got[f"ts_max_{i}"]]
                    for i, m in enumerate(months)
                    if got[f"n_rows_{i}"]
                ]
                lineage = {
                    "n_months": len(months),
                    "n_rows": sum(r[1] for r in metrics),
                    "wall_s": time.perf_counter() - t0,
                    "finished_at": time.time(),
                }
                return {"run_id": run_id, "months": len(months),
                        "src_snapshot": src_head, "lineage": lineage,
                        "metrics": metrics}

            dst_snap = self.tiers[tier].overwrite_partitions(out, summary)
            man = self.tiers[tier]._manifest(dst_snap)
            self._record(tier, man)
            lin = man["summary"]["lineage"]
            # merge, don't replace: an earlier skipped_aged_months note
            # for this tier must survive alongside the refresh stats
            report[tier] = {
                **report.get(tier, {}),
                "months": len(months),
                "rows": lin["n_rows"],
                "wall_s": round(lin["wall_s"], 3),
            }
        return report

    # ---------------------------------------------------------------- packed

    def _truncate_tail(self, tier: str, summary: dict | None = None) -> None:
        """Drop every tail row after a fold (the packed table is current
        again). Runs AFTER the packed commit: a crash in between leaves a
        harmless stale tail — point_read only consults tail months that
        the packed manifest still masks, and the next incremental pack's
        month overwrite replaces any month it re-touches."""
        tail = self.tails[tier]
        if tail.head() is None or not tail._files():
            return
        # the zero-length prefix matches EVERY partition: a metadata-only
        # commit that drops all tail files
        tail.delete_partitions([()], {"op": "fold_truncate", **(summary or {})})

    def pack_tier(
        self, tier: str, incremental: bool = True, fold: bool | None = None
    ) -> str | None:
        """Materialize the packed-series form of a tier (delta-of-delta ts
        + Gorilla-XOR values, chunked), bucketed by key hash for pruned
        point reads.

        Incremental by default — LSM-shaped (r4 verdict task 3): the
        tier's snapshot delta since the last pack is APPENDED (as an
        idempotent month-partition overwrite) to the tier's unpacked
        ``tail`` table, and the packed table advances its recorded source
        snapshot with a data-free commit whose summary lists the
        ``masked_months`` — months whose packed blobs are superseded by
        tail rows. No re-encoding happens on the incremental path at all.
        Re-encoding is paid only at FOLD time (full repack + tail
        truncate), triggered when the tail outgrows
        ``tail_fold_frac`` of the packed bytes, on ``fold=True``, or on
        ``incremental=False`` — the amortized write shape of Gorilla /
        Prometheus (hot unpacked head, sealed compressed blocks).

        Why not repack touched hash buckets (the pre-r5 design): a
        realistic delta (new month for a spread of keys) hash-lands in
        ~every bucket, so bucket-grain repack re-encoded the whole table
        while wearing an "incremental" label — measured at full-repack
        cost for a 10% key delta. Month-masking works because refresh
        recomputes WHOLE months (the tiers' only partition level): every
        delta month arrives complete, so "packed minus masked months,
        plus tail" is exactly the tier. A retention drop (``delete_partitions``)
        degrades to a fold (months vanished below the mask's horizon); a
        rewrite-only window (compaction) advances the source snapshot
        with a data-free commit carrying the mask forward. Months named
        ONLY by removed files (a caller overwrite that drops keys with no
        replacement rows) still enter the mask — the dropped file's
        ``pmonth`` path segment names them at zero I/O (ADVICE r2).
        """
        tbl = self.tiers[tier]
        ptbl = self.packed[tier]
        head = tbl.head()
        if head is None or not tbl._files(head):
            # empty tier (never refreshed, or every month retained away):
            # nothing to pack — and tbl.read would raise
            return None
        # pack_series output always names the key column 'doc_id'
        bucket_of = self._kb("doc_id")
        prev_src = None
        prev_sum: dict = {}
        if incremental and ptbl.head() is not None:
            prev_sum = ptbl._manifest(ptbl.head())["summary"]
            prev_src = prev_sum.get("src_snapshot")
        snaps = tbl.snapshots()
        chain_ids = [m["snapshot_id"] for m in snaps]
        if prev_src is not None and prev_src in chain_ids and prev_src != head:
            window = snaps[chain_ids.index(prev_src) + 1 :]
            if any(m["operation"] == "delete_partitions" for m in window):
                prev_src = None  # rows vanished: month delta can't see it
        if prev_src is not None and prev_src in chain_ids and not fold:
            if prev_src == head:
                return ptbl.head()  # already current
            months = _pmonths(tbl, tbl.incremental_files(prev_src, head))
            # months named only by removed files (keys superseded by an
            # overwrite, no replacement row): the pmonth of each file an
            # overwrite dropped vs its parent
            for i in range(chain_ids.index(prev_src) + 1, len(snaps)):
                m = snaps[i]
                if m["operation"] != "compact":
                    parent = set(snaps[i - 1]["files"]) if i > 0 else set()
                    months |= _pmonths(tbl, parent - set(m["files"]))
            if not months:
                # rewrite-only window (compact): data unchanged — record
                # the new source snapshot without touching any file; the
                # mask (and the tail rows it points at) carries forward
                return ptbl.overwrite_partitions(
                    None,
                    {
                        "tier": tier,
                        "src_snapshot": head,
                        "noop": True,
                        "masked_months": prev_sum.get("masked_months", []),
                    },
                )
            masked = sorted(set(prev_sum.get("masked_months", [])) | months)
            if fold is None:
                # pre-append tail size: the threshold crossing lags one
                # pack call, which only delays the fold by one delta
                fold = self.tails[tier].live_bytes() > self.tail_fold_frac * max(
                    ptbl.live_bytes(), 1
                )
            if not fold:
                tail_df = None
                delta = tbl.read_incremental(self.spark, prev_src, head)
                if delta is not None:
                    # the delta's key type comes from the recorded
                    # schemas: planning this scan runs no Spark job
                    tail_df = delta.select(
                        F.col(self.key).alias("doc_id"),
                        "ts",
                        "v_mean",
                        "pmonth",
                        F.col("kb").cast("int"),
                    ).repartition(F.col("pmonth"))
                # month-grain overwrite, replace_values covering months
                # with NO delta rows (overwrite-to-empty): their old tail
                # rows are superseded even though nothing replaces them
                self.tails[tier].overwrite_partitions(
                    tail_df,
                    {"op": "tail_append", "src_snapshot": head},
                    replace_values=[(m,) for m in sorted(months)],
                )
                return ptbl.overwrite_partitions(
                    None,
                    {
                        "tier": tier,
                        "src_snapshot": head,
                        "mode": "tail_append",
                        "masked_months": masked,
                        "delta_months": len(months),
                    },
                )
        df = tbl.read(self.spark)
        # one shuffle keyed on bucket before the partitioned write:
        # without it every pack task spills a sliver into every bucket
        # dir (tasks x buckets tiny files — measured 1264 files for 2k
        # packed rows, costing ~3 s of driver file listing PER point
        # read). One file per bucket per commit is the layout the
        # bucket-pruned read wants; packed blobs are compact, so this
        # shuffle moves little data.
        packed = (
            pack_series(df, key=self.key, ts_col="ts", val_col="v_mean")
            .withColumn("bucket", bucket_of)
            .repartition("bucket")
        )
        # the empty prefix: a FULL repack supersedes every existing packed
        # partition, including buckets the new pack writes no rows for.
        # No masked_months in the summary: the fresh pack IS the tier.
        snap = ptbl.overwrite_partitions(
            packed,
            {"tier": tier, "src_snapshot": head, "mode": "full"},
            replace_values=[()],
        )
        # after the packed commit (crash ordering: see _truncate_tail)
        self._truncate_tail(tier, {"folded_into": snap})
        return snap

    # ----------------------------------------------------------------- reads

    def read_tier(self, tier: str) -> DataFrame:
        # kb is physical layout (the key-hash clustering column), not schema
        return self.tiers[tier].read(self.spark).drop("kb")

    @functools.cached_property
    def _xxh64(self) -> tuple:
        """Py4J handles to Spark's own XXH64, resolved once: a hasher
        seeded like ``F.xxhash64`` (its ``hashInt``/``hashLong``), the
        ``XXH64`` class (static ``hashUTF8String``) and ``UTF8String``."""
        jvm = self.spark._jvm
        xxh64 = jvm.org.apache.spark.sql.catalyst.expressions.XXH64
        utf8 = jvm.org.apache.spark.unsafe.types.UTF8String
        return xxh64(_XXH64_SEED), xxh64, utf8

    def _key_bucket(self, key_value, key_type) -> tuple:
        """``(bucket, key)``: :meth:`_kb` of ``key_value`` at the stored
        key type ``key_type``, hashed on the driver by Spark's own XXH64
        through Py4J (no DataFrame, no query), then ``%`` — ``pmod`` for
        a positive modulus. Exact matches only: a ``str`` key on a
        default-collation string column, or an in-range ``int`` on a
        bigint/int/short/byte column, hashed at the stored width
        (xxhash64 hashes int and long differently, so an int32-sized key
        against a LongType column must hash as a long). Anything else is
        ``(None, None)``, and the caller takes the Spark path, which
        casts and hashes the key inside the plan."""
        hasher, xxh64, utf8 = self._xxh64
        bits = _INT_BITS.get(key_type)
        if type(key_value) is str and key_type == StringType():
            h = xxh64.hashUTF8String(utf8.fromString(key_value), _XXH64_SEED)
        elif (
            bits is not None and type(key_value) is int
            and -(1 << bits - 1) <= key_value < 1 << bits - 1
        ):
            # short and byte columns hash as int, like Spark's xxhash64
            h = (hasher.hashLong if bits == 64 else hasher.hashInt)(key_value)
        else:
            return None, None
        return h % self.n_buckets, key_value

    def _point_read_local(
        self,
        key_value,
        tier: str,
        masked: list[str] | None,
        start: str | None,
        end: str | None,
    ) -> DataFrame | None:
        """:meth:`point_read` on the driver (:meth:`SnapshotTable.scan_local`
        and the numpy codecs). ``masked`` is None when the unpacked tier
        serves the read. Only the tail's masked months are read: stale
        tail rows of other months (a crash between a fold's packed commit
        and its tail truncate) stay invisible. None — the caller falls
        back to Spark — when a subtree has no recorded schema, the key
        does not match the stored type, or a scan's files exceed
        ``_LOCAL_READ_MAX_BYTES``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from c3s_sm_spark.functions.codecs import decode_ts, decode_vals

        tbl, key_col = (
            (self.tiers[tier], self.key) if masked is None
            else (self.packed[tier], "doc_id")
        )
        key_type = tbl.recorded_type(key_col)
        if key_type is None:
            return None
        bucket, key = self._key_bucket(key_value, key_type)
        if key is None:
            return None
        lo = None if start is None else np.datetime64(_naive_utc(start).value, "ns")
        hi = None if end is None else np.datetime64(_naive_utc(end).value, "ns")

        def scan(t: SnapshotTable, parts: dict, cond, columns=("ts", "v_mean"),
                 holds=None):
            return t.scan_local(
                parts, list(columns), cond, _LOCAL_READ_MAX_BYTES, holds
            )

        def series(rows: pa.Table) -> tuple[np.ndarray, np.ndarray]:
            # packed blobs store an all-null window as NaN; rows agree
            v = rows["v_mean"].cast(pa.float64()).fill_null(np.nan)
            return _epoch_us(rows["ts"]), v.to_numpy()

        if masked is None:
            blobs = None
            rows = scan(
                tbl, {}, (pc.field("kb") == bucket) & (pc.field(key_col) == key),
                holds={"kb": bucket},
            )
        else:
            blobs = scan(
                tbl, {"bucket": {str(bucket)}}, pc.field("doc_id") == key,
                ("ts_min", "ts_max", "ts_blob", "v_blob"),
            )
            if blobs is None:
                return None
            rows = scan(
                self.tails[tier], {"pmonth": set(masked)},
                (pc.field("kb") == bucket) & (pc.field("doc_id") == key),
                holds={"kb": bucket},
            )
        if rows is None:
            return None
        parts = [series(rows)]
        if blobs is not None:
            ts_min = _epoch_us(blobs["ts_min"]).view("datetime64[us]")
            ts_max = _epoch_us(blobs["ts_max"]).view("datetime64[us]")
            for i, (tb, vb) in enumerate(
                zip(blobs["ts_blob"].to_pylist(), blobs["v_blob"].to_pylist())
            ):
                # (ts_min, ts_max) sidecars drop whole blobs before decode
                if (lo is not None and ts_max[i] < lo) or (
                    hi is not None and ts_min[i] > hi
                ):
                    continue
                ts, vals = decode_ts(tb), decode_vals(vb)
                if masked:
                    month = ts.view("datetime64[us]").astype("datetime64[M]")
                    live = ~np.isin(month.astype(str), masked)
                    ts, vals = ts[live], vals[live]
                parts.append((ts, vals))
        ts = np.concatenate([p[0] for p in parts]).view("datetime64[us]")
        vals = np.concatenate([p[1] for p in parts])
        keep = np.ones(len(ts), dtype=bool)
        if lo is not None:
            keep &= ts >= lo
        if hi is not None:
            keep &= ts <= hi
        ts, vals = ts[keep], vals[keep]
        order = np.argsort(ts, kind="stable")
        # an Arrow table, not pandas: a local relation even when empty
        # (an empty pandas frame takes the parallelize path), and NaN
        # stays NaN (pandas conversion would turn it into NULL)
        out = pa.table(
            {
                "doc_id": pa.array([key] * len(ts)),
                "ts": pa.array(ts[order], pa.timestamp("us")),
                "v_mean": pa.array(vals[order], pa.float64()),
            }
        )
        return self.spark.createDataFrame(
            out, f"doc_id {key_type.simpleString()}, ts timestamp, v_mean double"
        )

    def _tail_rows(
        self, tier: str, key_value, masked: list[str]
    ) -> DataFrame | None:
        """The tail rows for one key within the masked months, pruned to
        the month partitions and (via parquet row-group stats on the kb
        data column) the key's hash bucket. None when the tail is empty.
        The ``pmonth`` IN-list matters beyond pruning: a crash between a
        fold's packed commit and its tail truncate leaves stale tail rows
        for UNMASKED months, which this filter keeps invisible."""
        tail = self.tails[tier]
        if tail.head() is None or not tail._files():
            return None
        tdf = tail.read(self.spark)
        key_lit = F.lit(key_value).cast(tdf.schema["doc_id"].dataType)
        return tdf.where(
            F.col("pmonth").isin(masked)
            & (F.col("kb") == self._kb(key_lit))
            & (F.col("doc_id") == key_value)
        ).select(
            "doc_id",
            "ts",
            # packed blobs store an all-null window as NaN (pandas
            # float64 coercion); the tail must agree
            F.coalesce(F.col("v_mean"), F.lit(float("nan"))).alias("v_mean"),
        )

    def point_read(
        self,
        key_value: str,
        tier: str = "daily",
        start: str | None = None,
        end: str | None = None,
        local_decode: bool | None = None,
    ) -> DataFrame:
        """S5 point time-series query: one key's series, time-ordered,
        optionally restricted to ``[start, end]``, as
        ``(doc_id, ts, v_mean)``.

        Served from the packed table when it is current: the key's
        ``bucket=<b>`` files, whose ``(ts_min, ts_max)`` sidecar columns
        drop whole blobs BEFORE any decode (SURVEY.md §4 — min/max
        pruning instead of a custom Catalyst rule for packed columns),
        then the exact ``ts`` predicate trims the decoded edge chunks;
        months superseded since the last fold are masked out of the
        decode and served from the unpacked tail instead (see
        :meth:`pack_tier`). Without a current packed table the tier
        serves it: the files whose recorded ``kb`` values hold the key's
        bucket, row groups pruned by the ``kb`` and key statistics.

        A normal-sized read runs NO Spark job and no query: the driver
        hashes the key with Spark's XXH64 (:meth:`_key_bucket`), reads
        the manifest-pruned files with pyarrow, decodes with the numpy
        codecs and returns a local relation (:meth:`_point_read_local`).
        A key whose Python type does not match the stored key type (an
        ``int`` on a string column, a ``str`` on a bigint one) takes the
        Spark path, which casts it in the plan.
        When one scan's files exceed ``_LOCAL_READ_MAX_BYTES``, or a
        subtree has no recorded schema, the read degrades to the Spark
        scan with the distributed ``unpack_series`` decode; pass
        ``local_decode=False`` to force that path.
        """
        ptbl = self.packed[tier]
        head = ptbl.head()
        psum = ptbl._manifest(head)["summary"] if head else {}
        # staleness guard: the packed form is a materialization of a
        # specific tier snapshot; after later ingest+refresh the tier
        # moves on and the packed table would silently serve OLD data —
        # serve the (always-current) tier rows until the next pack_tier()
        current = head is not None and (
            psum.get("src_snapshot") == self.tiers[tier].head()
        )
        masked = list(psum.get("masked_months", [])) if current else None
        if local_decode is not False:
            out = self._point_read_local(key_value, tier, masked, start, end)
            if out is not None:
                return out
        try:
            if masked is None:
                raise FileNotFoundError(ptbl.root)
            packed = ptbl.read(self.spark)
            # same dtype-before-hash rule as _key_bucket
            doc_lit = F.lit(key_value).cast(packed.schema["doc_id"].dataType)
            packed = packed.where(
                (F.col("bucket") == self._kb(doc_lit))
                & (F.col("doc_id") == key_value)
            )
            if start is not None:
                packed = packed.where(F.col("ts_max") >= F.lit(start))
            if end is not None:
                packed = packed.where(F.col("ts_min") <= F.lit(end))
            out = unpack_series(packed)
            if masked:
                out = out.where(~F.date_format("ts", "yyyy-MM").isin(masked))
                tail_out = self._tail_rows(tier, key_value, masked)
                if tail_out is not None:
                    out = out.unionByName(tail_out)
        except FileNotFoundError:
            # the kb predicate folds to a literal and is pushed into the
            # scan: row groups outside the key's bucket are skipped on
            # their footer statistics before the exact key filter
            tdf = self.tiers[tier].read(self.spark)
            key_lit = F.lit(key_value).cast(tdf.schema[self.key].dataType)
            out = (
                tdf.where(
                    (F.col("kb") == self._kb(key_lit))
                    & (F.col(self.key) == key_value)
                )
                # SAME schema as the packed branch (unpack_series emits
                # (doc_id, ts, v_mean)): the caller must not see a
                # different shape depending on packed-table freshness.
                # NULL v_mean (a window whose values were all null)
                # becomes NaN too — pandas float64 coercion stores NaN in
                # the packed form, so the fallback must agree
                .select(
                    F.col(self.key).alias("doc_id"),
                    "ts",
                    F.coalesce(F.col("v_mean"), F.lit(float("nan"))).alias(
                        "v_mean"
                    ),
                )
            )
        if start is not None:
            out = out.where(F.col("ts") >= F.lit(start))
        if end is not None:
            out = out.where(F.col("ts") <= F.lit(end))
        return out.orderBy("ts")

    # ------------------------------------------------------------- retention

    #: which tier must already cover a month before it may be dropped from
    #: the finer one (raw ages out once daily is rolled up, etc.)
    _COARSER = {"raw": "daily", "daily": "dekadal", "dekadal": "monthly", "monthly": None}

    def retention(
        self, policy: dict[str, int], as_of: str | None = None
    ) -> dict[str, dict]:
        """Cascading retention: age out month partitions per tier.

        ``policy`` maps tier name (``raw``/``daily``/``dekadal``/
        ``monthly``) to the number of trailing months to keep. A month is
        dropped from a tier only when (a) it is older than the tier's
        horizon measured back from ``as_of`` (default: the newest month
        present in the raw table) AND (b) the next-coarser tier already
        has data for that month — the downsampled history must exist
        before the fine-grained rows age out (TimescaleDB
        drop_chunks-with-continuous-aggregate semantics; the reference
        keeps all three C3S product frequencies side by side for the same
        reason). The drop itself is a metadata-only
        :meth:`~c3s_sm_spark.sources.tableio.SnapshotTable.delete_partitions`
        commit — no data rewrite, no scan, time travel intact until
        ``expire_snapshots`` — which inherits the tier's HWM, so retention
        never perturbs incremental refresh. Each drop raises the table's
        ``retention_through`` property to the newest dropped month (never
        lowers it: refresh reads it as the horizon below which late rows
        are ignored) and appends a ``status='retention'`` lineage row.
        """
        run_id = uuid.uuid4().hex[:12]
        tables = {"raw": self.raw, **self.tiers}

        if as_of is None:
            raw_months = _pmonths(self.raw)
            if not raw_months:
                return {}
            as_of = max(raw_months)
        year, month = int(as_of[:4]), int(as_of[5:7])
        report: dict[str, dict] = {}
        for tier, keep in policy.items():
            tbl = tables[tier]
            # keep exactly `keep` trailing months: as_of back to horizon incl.
            m_total = (year * 12 + month - 1) - (int(keep) - 1)
            horizon = f"{m_total // 12:04d}-{m_total % 12 + 1:02d}"
            old = sorted(m for m in _pmonths(tbl) if m < horizon)
            cov = self._COARSER[tier]
            if cov is not None:
                covered = _pmonths(self.tiers[cov])
                old = [m for m in old if m in covered]
            if not old:
                report[tier] = {"dropped_months": 0}
                continue
            pre_drop = tbl.head()  # BEFORE the commit: the snapshot to
            # time-travel to when auditing what this run removed
            snap = tbl.delete_partitions(
                [(m,) for m in old], {"op": "retention", "run_id": run_id}
            )
            through = tbl.properties().get("retention_through")
            tbl.set_properties({"retention_through": max(old[-1], through or "")})
            if tier in self.tiers:
                # tombstone metrics rows: without them coverage()'s
                # latest-row-per-(tier, pmonth) would keep reporting the
                # dropped months' last refresh stats forever
                self.metrics.append(
                    self._local_frame(
                        [
                            (run_id, tier, m, 0, 0, None, None, time.time())
                            for m in old
                        ],
                        _METRICS_COLS,
                    )
                )
            self.lineage.append(
                self._local_frame(
                    [
                        (
                            run_id,
                            tier,
                            pre_drop,
                            snap,
                            len(old),
                            0,
                            0.0,
                            time.time(),
                            "retention",
                            old[-1],  # note: horizon month dropped through
                        )
                    ],
                    _LINEAGE_COLS,
                )
            )
            report[tier] = {
                "dropped_months": len(old),
                "through": old[-1],
                "snapshot": snap,
            }
        return report

    #: who consumes each table's incremental snapshot stream
    _CONSUMER = {"raw": "daily", "daily": "dekadal", "dekadal": "monthly"}

    def maintain(
        self, target_rows_per_file: int = 4_000_000, keep_snapshots: int = 3
    ) -> dict[str, dict]:
        """Table maintenance across all pipeline tables: small-file
        compaction (incremental refreshes leave one file set per run)
        then snapshot expiry + orphan-file removal. The storage-side half
        of resumability: snapshots accumulate per refresh, and without
        expiry a 10^12-point table's manifest chain would grow
        unboundedly.

        Expiry PROTECTS every downstream high-water mark: the consuming
        tier's HWM (the ``src_snapshot`` on its HEAD manifest — the HWM
        lives on the tier commit, not in lineage) and the packed table's
        recorded source snapshot. Expiring below a HWM doesn't corrupt
        anything, but it silently degrades the consumer's next run from incremental to a
        full rebuild — and a raw full-rebuild can resurrect months that
        retention already dropped from the tier (raw may still hold
        them). read_incremental's contract says callers must not expire
        below consumers' HWMs; maintain is that caller.

        The unpartitioned bookkeeping tables (lineage, metrics) and the
        packed tiers are maintained too — lineage/metrics append one
        single-file snapshot per refresh, and their manifest-driven read
        unions one scan branch per append, so an unmaintained pipeline's
        ``status`` and ``coverage`` plans would grow O(#runs); nothing on
        the refresh path reads them. Bookkeeping a crash lost is
        re-appended FIRST (compaction and expiry could otherwise drop the
        refresh commit that carries it), and each bookkeeping compaction
        lists the ``(run_id, tier)`` pairs it absorbed, so the recovery
        check still finds them.
        """
        self._recover_bookkeeping()
        recorded = [
            [m["summary"]["run_id"], t] for t, m in self._last_refreshes().items()
        ]
        report: dict[str, dict] = {}
        for name, tbl in {"raw": self.raw, **self.tiers}.items():
            protect = []
            consumer = self._CONSUMER.get(name)
            if consumer is not None:
                hwm = self._hwm(consumer)
                if hwm is not None:
                    protect.append(hwm)
            if name in self.packed and self.packed[name].head() is not None:
                src = self.packed[name]._manifest(self.packed[name].head())[
                    "summary"
                ].get("src_snapshot")
                if src is not None:
                    protect.append(src)
            compacted = tbl.compact(self.spark, target_rows_per_file)
            expired = tbl.expire_snapshots(
                keep_last=keep_snapshots, protect=protect
            )
            report[name] = {"compacted": bool(compacted), **expired}
        bookkeeping = {
            "lineage": self.lineage,
            "metrics": self.metrics,
            **{f"{t}_packed": p for t, p in self.packed.items()},
            **{f"{t}_tail": p for t, p in self.tails.items()},
        }
        for name, tbl in bookkeeping.items():
            if tbl.head() is None:
                continue
            compacted = tbl.compact(
                self.spark,
                target_rows_per_file,
                summary={"recorded": recorded}
                if name in ("lineage", "metrics") else None,
            )
            expired = tbl.expire_snapshots(keep_last=keep_snapshots)
            report[name] = {"compacted": bool(compacted), **expired}
        return report

    def coverage(self) -> DataFrame:
        """A4/A5 analog: per-tier coverage from the metrics table — no
        data scan (manifest/metrics only, like Iceberg table stats).

        Each refresh appends one metrics row per recomputed month that
        describes the whole overwritten partition, so only the NEWEST row
        per (tier, pmonth) is current — summing across runs would inflate
        counts for every re-refreshed month."""
        from pyspark.sql import Window

        met = self.metrics.read(self.spark)
        if "written_at" not in met.columns:  # pre-upgrade tables
            met = met.withColumn("written_at", F.lit(None).cast("double"))
        w = Window.partitionBy("tier", "pmonth").orderBy(
            F.col("written_at").desc_nulls_last(), F.col("run_id").desc()
        )
        latest = met.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") == 1
        )
        return latest.groupBy("tier").agg(
            F.min("ts_min").alias("period_from"),
            F.max("ts_max").alias("period_to"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_points").alias("n_points"),
        )
