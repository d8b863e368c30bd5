"""Snapshot-versioned Parquet table layer (Iceberg-fallback TableIO).

SURVEY.md §7 plans Iceberg for the tier tables; this sandbox has no Iceberg
runtime jar and no network, so this module provides the same *semantics*
behind a thin interface that an Iceberg catalog can replace verbatim:

- **one commit path**: a mutator writes its data files, then ``_commit``
  writes an immutable snapshot manifest (JSON list of data files), then
  the table HEAD. Every metadata file is written by ``_replace`` (a uuid
  temp name, then an atomic ``os.replace``): readers never see a
  half-written table, and a crash between two steps leaves only
  unreferenced files, so re-running the job converges. The reference's
  analog is the all-or-nothing netCDF cell-file append plus the
  ``000_overview.yml`` lineage record written after success
  (``/root/reference/src/c3s_sm/misc.py:163-250``).
- **append / partition replace**: ``append(df)`` adds files; every other
  commit keeps the base files minus those under a set of partition-value
  prefixes (``_kept``: ``("a",)`` is all of ``p='a'`` on a ``(p, q)``
  table, ``()`` every partition; an unpartitioned table is the one
  partition ``()``). ``overwrite_partitions(df)`` replaces the partitions
  present in ``df`` (Iceberg ``overwritePartitions``) plus its
  ``replace_values``, which makes window recompute idempotent — the
  engine's crash-resume story.
- **snapshot reads & incremental scans**: ``read(spark, snapshot_id=...)``
  time-travels; ``read_incremental(spark, since, until)`` reads only files
  added in ``(since, until]`` — the Iceberg ``start-snapshot-id`` pattern
  the incremental tier refresh uses (reference extend_ts,
  ``/root/reference/src/c3s_sm/reshuffle.py:67-133``).
  ``incremental_files(since, until)`` is the same diff as a file list,
  whose partition path segments name the touched partitions unread.
- **recorded schema per write**: every write records the written frame's
  schema (partition columns last, every field nullable — exactly what
  parquet inference would return) in a ``_schema.json`` sidecar inside
  its immutable subtree, and reads hand it to ``spark.read.schema``, so
  planning a scan launches no footer-inference job. Subtrees written
  without a record fall back to inference.
- **sort order and recorded file stats per write**: a table built with
  ``sort_by`` (Iceberg's table sort order) sorts every write, compaction
  included, inside its tasks by the partition columns then ``sort_by``.
  Every write reads each new file's parquet footer on the driver
  (pyarrow, no Spark job) and records its rows, bytes, the min/max of
  its integer columns and the distinct values of the leading ``sort_by``
  column in a ``_stats.json`` sidecar next to ``_schema.json`` —
  Iceberg's per-file manifest entries. Subtrees never change, so the
  records need no carry-forward between manifests.
- **driver-side scans**: ``scan_local`` reads the HEAD files under given
  partition values with pyarrow — partition selection by file path, file
  selection by recorded column values, a column projection, a row filter
  pushed into each file's row groups, and a byte cap (recorded sizes,
  checked before any read) past which it returns None — so a small
  lookup (a point read) runs no Spark job. ``recorded_type`` gives a
  column's recorded type for such a lookup.
- **metadata-only commits**: ``overwrite_partitions(None, ...)`` and
  ``delete_partitions`` commit a manifest without running any Spark
  write; the summary is the payload (a consumer's recorded source
  snapshot, masked months). ``src_snapshot`` — the source snapshot a
  derived table has folded in — is table state, not an event: a commit
  whose summary does not set it inherits the parent's, so compaction,
  partition drops and snapshot expiry never lose it.

Layout::

    <root>/data/s<snapshot>/<partition dirs>/*.parquet   (immutable)
    <root>/data/s<snapshot>/_schema.json                 (written schema)
    <root>/data/s<snapshot>/_stats.json                  (per-file stats)
    <root>/_manifests/snap-<id>.json                     (immutable)
    <root>/_manifests/HEAD                               (atomic pointer)
    <root>/_manifests/table.json                         (table properties)

Scale notes: manifests list files, not rows, so commit cost is O(files);
partition values are encoded in directory names (hive-style via
``partitionBy``) so partition pruning works through Spark's file index, and
``basePath`` keeps partition columns when reading an explicit file subset.
Only this module parses those paths: callers get a file set's partition
values from :meth:`SnapshotTable.partitions`. On a real deployment swap
this class for Iceberg — the pipeline only calls the methods above.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable, Collection

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructField, StructType

#: sentinel: "caller did not capture a base snapshot" (None is a real
#: parent value — the first commit's)
_UNCHECKED = object()

#: per-subtree schema and file-stats sidecars written next to the data
#: files (the leading underscore keeps Spark's own directory listing from
#: reading them as data)
_SCHEMA_FILE = "_schema.json"
_STATS_FILE = "_stats.json"


def _file_stats(path: str, distinct: tuple[str, ...]) -> dict:
    """Rows, bytes and integer-column ``min``/``max`` of a parquet file
    from its footer (a column without statistics in some row group gets
    no range), plus the distinct ``values`` of the ``distinct`` columns
    (a leading sort column: long runs, a cheap column read)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    lo: dict[str, int] = {}
    hi: dict[str, int] = {}
    for j in range(md.num_columns):
        col = md.schema.column(j)
        if col.physical_type not in ("INT32", "INT64") or (
            col.logical_type.type not in ("NONE", "INT")
        ):
            continue
        stats = [
            md.row_group(i).column(j).statistics for i in range(md.num_row_groups)
        ]
        if stats and all(s is not None and s.has_min_max for s in stats):
            lo[col.path] = min(s.min for s in stats)
            hi[col.path] = max(s.max for s in stats)
    values = {
        c: sorted(
            pq.read_table(path, columns=[c])[c].unique().drop_null().to_pylist()
        )
        for c in distinct
    }
    return {"rows": md.num_rows, "bytes": os.path.getsize(path), "min": lo,
            "max": hi, "values": values}


def _resolve(summary: dict | Callable[[], dict] | None) -> dict:
    return dict(summary() if callable(summary) else summary or {})


class CommitConflictError(RuntimeError):
    """Another writer advanced HEAD between a mutator's base-state read
    and its commit — the optimistic-concurrency failure Iceberg surfaces
    as CommitFailedException. The losing writer must recompute from the
    new HEAD and retry (``append`` does so itself)."""


class SnapshotTable:
    """A partitioned Parquet table with atomic snapshot commits. Rows of
    every data file are sorted by ``sort_by`` (after the partition
    columns); the caller distributes them over files."""

    def __init__(
        self,
        root: str,
        partition_by: list[str] | None = None,
        sort_by: tuple[str, ...] = (),
    ):
        self.root = root
        self.sort_by = tuple(sort_by)
        # (subtree, sidecar name) -> parsed record; subtrees are immutable
        self._sidecars: dict[tuple[str, str], object] = {}
        self.data_dir = os.path.join(root, "data")
        self.man_dir = os.path.join(root, "_manifests")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.man_dir, exist_ok=True)
        if os.path.exists(os.path.join(self.man_dir, "table.json")):
            self.properties()
            if partition_by is not None and partition_by != self.props["partition_by"]:
                raise ValueError(
                    f"table at {root} is partitioned by "
                    f"{self.props['partition_by']}, not {partition_by}"
                )
        else:
            self.props = {"partition_by": partition_by or []}
            self._replace("table.json", json.dumps(self.props))

    # ------------------------------------------------------------- snapshots

    @property
    def partition_by(self) -> list[str]:
        return self.props["partition_by"]

    # ------------------------------------------------------- table properties

    def set_properties(self, properties: dict[str, str]) -> None:
        """Merge string table properties (Iceberg ``ALTER TABLE ... SET
        TBLPROPERTIES`` analog) into the table metadata atomically. The
        engine uses this for the reference's per-product global
        attributes (product name / temporal sampling / cdr / version,
        ``/root/reference/src/c3s_sm/metadata.py:163-177``) — metadata
        that belongs to the TABLE, not to any row."""
        merged = self.properties()
        merged.update({str(k): str(v) for k, v in properties.items()})
        self.props["properties"] = merged
        self._replace("table.json", json.dumps(self.props))

    def properties(self) -> dict[str, str]:
        """Current table properties (empty dict when never set), re-read
        from ``table.json`` so another handle's update is visible."""
        with open(os.path.join(self.man_dir, "table.json")) as f:
            self.props = json.load(f)
        return dict(self.props.get("properties", {}))

    def head(self) -> str | None:
        """Current snapshot id, or None for an empty table."""
        try:
            with open(os.path.join(self.man_dir, "HEAD")) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _manifest(self, snapshot_id: str) -> dict:
        with open(os.path.join(self.man_dir, f"snap-{snapshot_id}.json")) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """All snapshots, oldest first (parent-chain walk from HEAD)."""
        out: list[dict] = []
        sid = self.head()
        while sid:
            m = self._manifest(sid)
            out.append(m)
            sid = m["parent"]
        out.reverse()
        return out

    def _files(self, snapshot_id: str | None = None) -> list[str]:
        sid = snapshot_id or self.head()
        return self._manifest(sid)["files"] if sid else []

    def _replace(self, name: str, text: str) -> None:
        """Atomically (re)write the metadata file ``name``: a uuid temp
        name, then ``os.replace``. The one metadata write of the table."""
        path = os.path.join(self.man_dir, name)
        tmp = f"{path}.tmp{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def _lock(self):
        """Acquire the table's commit lock (O_CREAT|O_EXCL lockfile).
        Returns the lock path; stale locks (holder died) are broken
        after 60 s."""
        path = os.path.join(self.man_dir, "COMMIT.lock")
        deadline = time.time() + 60
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return path
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(path) > 60:
                        os.remove(path)  # stale: holder died mid-commit
                        continue
                except FileNotFoundError:
                    continue
                if time.time() > deadline:
                    raise TimeoutError(f"commit lock busy: {path}")
                time.sleep(0.05)

    def _commit(
        self,
        files: list[str],
        operation: str,
        summary: dict,
        expected_parent: object = _UNCHECKED,
    ) -> str:
        """Atomic commit with optimistic concurrency: when the caller
        passes the HEAD it computed ``files`` against, a concurrent
        commit in between raises :class:`CommitConflictError` instead of
        silently orphaning the other writer's snapshot (the last-writer-
        wins hazard Iceberg closes with CAS on the metadata pointer).
        Every public mutator passes its base; ``append`` retries."""
        lock = self._lock()
        try:
            parent = self.head()
            if expected_parent is not _UNCHECKED and parent != expected_parent:
                raise CommitConflictError(
                    f"{self.root}: HEAD moved {expected_parent!r} -> "
                    f"{parent!r} during commit"
                )
            sid = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
            if parent is not None and "src_snapshot" not in summary:
                inherited = self._manifest(parent)["summary"].get("src_snapshot")
                if inherited is not None:
                    summary = {**summary, "src_snapshot": inherited}
            manifest = {
                "snapshot_id": sid,
                "parent": parent,
                "operation": operation,
                "committed_at": time.time(),
                "files": sorted(files),
                "summary": summary,
            }
            self._replace(f"snap-{sid}.json", json.dumps(manifest))
            self._replace("HEAD", sid)
            return sid
        finally:
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass

    # ---------------------------------------------------------------- writes

    def _write_files(self, df: DataFrame | None) -> tuple[str, list[str]]:
        """Write ``df`` into an immutable per-snapshot subtree and record
        its schema and its files' footer stats there; return (subtree,
        data files relative to the table root). ``None`` writes nothing
        (a metadata-only commit)."""
        if df is None:
            return "", []
        sub = f"s{int(time.time() * 1000):013d}{uuid.uuid4().hex[:6]}"
        out_dir = os.path.join(self.data_dir, sub)
        if self.sort_by:
            df = df.sortWithinPartitions(*self.partition_by, *self.sort_by)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(out_dir)
        # the schema a parquet read of this subtree infers: data columns,
        # then partition columns, all nullable
        parts = set(self.partition_by)
        fields = [f for f in df.schema if f.name not in parts] + [
            df.schema[p] for p in self.partition_by
        ]
        recorded = StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
        )
        with open(os.path.join(out_dir, _SCHEMA_FILE), "w") as f:
            f.write(recorded.json())
        stats = {}
        for dirpath, _dirs, fnames in os.walk(out_dir):
            for fn in fnames:
                if fn.endswith(".parquet"):
                    path = os.path.join(dirpath, fn)
                    stats[os.path.relpath(path, self.root)] = _file_stats(
                        path, self.sort_by[:1]
                    )
        with open(os.path.join(out_dir, _STATS_FILE), "w") as f:
            json.dump(stats, f)
        return sub, list(stats)

    def append(self, df: DataFrame, summary: dict | None = None) -> str:
        """Atomically add ``df``'s rows; returns the new snapshot id.
        Retries on commit conflict — an append composes with ANY
        concurrent commit by recomputing its base file list (the data
        files are already written and stay valid)."""
        _sub, new_files = self._write_files(df)
        for _attempt in range(5):
            base = self.head()
            try:
                return self._commit(
                    self._files(base) + new_files,
                    "append",
                    summary or {},
                    expected_parent=base,
                )
            except CommitConflictError:
                continue
        raise CommitConflictError(f"{self.root}: append lost 5 races")

    @staticmethod
    def _partition_of(relpath: str, partition_by: list[str]) -> tuple:
        """Hive partition tuple of a data file path (k=v dir segments)."""
        vals = dict(
            seg.split("=", 1) for seg in relpath.split(os.sep) if "=" in seg
        )
        return tuple(vals.get(k) for k in partition_by)

    def partitions(self, files: Collection[str] | None = None) -> set[tuple]:
        """Partition values (string tuples in ``partition_by`` order) of
        ``files`` — HEAD's files by default — read off their paths, with
        no scan; ``()`` for a file of an unpartitioned table."""
        files = self._files() if files is None else files
        return {self._partition_of(f, self.partition_by) for f in files}

    @staticmethod
    def _prefixes(values: Collection[tuple]) -> set[tuple]:
        """Partition-value prefixes as string tuples, without those a
        shorter prefix in the set already covers."""
        pre = {tuple(str(x) for x in v) for v in values}
        return {v for v in pre if not any(v[:n] in pre for n in range(len(v)))}

    def _kept(self, files: list[str], prefixes: set[tuple]) -> list[str]:
        """``files`` minus those under any of ``prefixes`` (:meth:`_prefixes`;
        a prefix matches every sub-partition under it, ``()`` every file)
        — the one rule by which a commit drops base files."""
        lens = {len(v) for v in prefixes}
        return [
            f for f in files
            if not any(
                self._partition_of(f, self.partition_by)[:n] in prefixes
                for n in lens
            )
        ]

    def overwrite_partitions(
        self,
        df: DataFrame | None,
        summary: dict | Callable[[], dict] | None = None,
        replace_values: list[tuple] | None = None,
    ) -> str:
        """Replace exactly the partitions present in ``df`` (dynamic
        partition overwrite). Idempotent: re-running the same write yields
        the same table state — the engine's resume primitive. An
        unpartitioned table is one partition: it is replaced whole.

        ``df=None`` writes no data: only ``replace_values`` are dropped,
        and the commit records ``summary`` (a metadata-only commit). A
        callable ``summary`` is evaluated after the data write and before
        the commit, so it may carry figures observed on the write itself
        (``DataFrame.observe``).

        ``replace_values`` adds a STATIC replace set of partition-value
        prefixes (:meth:`_kept`): those partitions are dropped even when
        ``df`` writes no rows into them — the "this partition is now
        empty" half of a static overwrite (Iceberg's ``REPLACE WHERE``)
        that dynamic mode cannot express. ``[("a",)]`` on a ``(p, q)``
        table replaces every ``p='a'`` partition; ``[()]`` replaces every
        partition (a full rebuild).
        """
        base = self.head()
        _sub, new_files = self._write_files(df)
        summary = _resolve(summary)
        op, replaced = "overwrite", {()}
        if self.partition_by:
            op = "overwrite_partitions"
            replaced = self._prefixes(
                [*self.partitions(new_files), *(replace_values or [])]
            )
            summary["replaced_partitions"] = len(replaced)
        return self._commit(
            self._kept(self._files(base), replaced) + new_files,
            op,
            summary,
            expected_parent=base,
        )

    # ----------------------------------------------------------------- reads

    def _read_files(self, spark: SparkSession, files: list[str]) -> DataFrame:
        """Read an explicit file list, preserving hive partition columns.

        Files live under per-snapshot subtrees (``data/s<id>/k=v/...``), so
        each subtree is read with its own ``basePath`` (partition columns
        survive) and its recorded schema, and the reads are unioned by
        name — a manifest-driven scan, the moral equivalent of Iceberg
        planning file groups per snapshot. Per-subtree schemas matter: a
        column written as FLOAT by one append and DOUBLE by a later one
        must be read at each file's own type and widened by the union.
        """
        by_sub: dict[str, list[str]] = {}
        for f in files:
            by_sub.setdefault(self._subtree(f), []).append(
                os.path.join(self.root, f)
            )
        dfs = []
        for sub, paths in sorted(by_sub.items()):
            reader = spark.read.option(
                "basePath", os.path.join(self.data_dir, sub)
            )
            schema = self._subtree_schema(sub)
            if schema is not None:
                reader = reader.schema(schema)
            dfs.append(reader.parquet(*paths))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    @staticmethod
    def _subtree(relpath: str) -> str:
        """The write subtree (``s<id>``) of a data file path."""
        return os.path.relpath(relpath, "data").split(os.sep, 1)[0]

    def _sidecar(self, sub: str, name: str):
        """The JSON record ``name`` written with subtree ``sub``, or None
        for a subtree written without one (memoized: subtrees are
        immutable)."""
        if (sub, name) not in self._sidecars:
            try:
                with open(os.path.join(self.data_dir, sub, name)) as f:
                    self._sidecars[sub, name] = json.load(f)
            except FileNotFoundError:
                self._sidecars[sub, name] = None
        return self._sidecars[sub, name]

    def _subtree_schema(self, sub: str) -> StructType | None:
        """The schema recorded when ``sub`` was written, or None for a
        subtree written without a record."""
        rec = self._sidecar(sub, _SCHEMA_FILE)
        return None if rec is None else StructType.fromJson(rec)

    def file_stats(self, relpath: str) -> dict | None:
        """``rows``, ``bytes``, integer-column ``min``/``max`` and the
        leading sort column's ``values`` recorded when a data file was
        written (None: no record)."""
        return (self._sidecar(self._subtree(relpath), _STATS_FILE) or {}).get(
            relpath
        )

    def _file_bytes(self, relpath: str) -> int:
        st = self.file_stats(relpath)
        if st is None:
            return os.path.getsize(os.path.join(self.root, relpath))
        return st["bytes"]

    def live_bytes(self) -> int:
        """On-disk bytes of HEAD's files, from the stats records (a stat
        call only for a file written without one)."""
        return sum(map(self._file_bytes, self._files()))

    def recorded_type(self, column: str) -> DataType | None:
        """``column``'s type as recorded by the writes HEAD's files come
        from (:meth:`_subtree_schema`, no Spark call). None when a subtree
        has no record or the records disagree — the caller then needs the
        type a Spark scan would widen them to."""
        types = set()
        for sub in {self._subtree(f) for f in self._files()}:
            schema = self._subtree_schema(sub)
            if schema is None or column not in schema.names:
                return None
            types.add(schema[column].dataType)
        return types.pop() if len(types) == 1 else None

    def scan_local(
        self,
        partitions: dict[str, Collection[str]],
        columns: list[str],
        row_filter,
        max_bytes: int,
        holds: dict[str, int] | None = None,
    ):
        """Read HEAD's files under the given partition values on the
        driver with pyarrow — no Spark job. ``partitions`` maps partition
        columns to the values to keep (read off each file's path, like
        Spark's partition pruning; unnamed columns match every value);
        ``holds`` maps data columns to a value a file must hold: a file
        whose recorded ``values``, or else ``[min, max]``
        (:meth:`file_stats`), exclude it is skipped, a file without a
        record is kept. ``columns`` projects
        data columns and ``row_filter`` (a ``pyarrow.compute``
        expression) is pushed into each file's row groups. Returns a
        ``pyarrow.Table``, or None when the selected files hold more than
        ``max_bytes`` on disk, checked before any read — the caller then
        degrades to a Spark scan. No file selected gives an empty table
        with null-typed columns. Timestamps come back as
        ``timestamp[us]``: Spark's INT96 values read at the unit Spark
        itself keeps."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def held(f: str) -> bool:
            st = self.file_stats(f)
            return st is None or all(
                x in st["values"][c] if c in st["values"]
                else st["min"].get(c, x) <= x <= st["max"].get(c, x)
                for c, x in (holds or {}).items()
            )

        names = list(partitions)
        files = [
            f
            for f in self._files()
            if all(
                v in partitions[k]
                for k, v in zip(names, self._partition_of(f, names))
            )
            and held(f)
        ]
        if sum(map(self._file_bytes, files)) > max_bytes:
            return None
        if not files:
            return pa.table({c: pa.nulls(0) for c in columns})
        return pa.concat_tables(
            [
                pq.read_table(
                    os.path.join(self.root, f), columns=columns,
                    filters=row_filter, coerce_int96_timestamp_unit="us",
                )
                for f in files
            ],
            promote_options="permissive",
        )

    def read(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        """Scan the table at HEAD or a past snapshot (time travel)."""
        files = self._files(snapshot_id)
        if not files:
            raise FileNotFoundError(f"table {self.root} is empty")
        return self._read_files(spark, files)

    def read_incremental(
        self,
        spark: SparkSession,
        since: str | None,
        until: str | None = None,
    ) -> DataFrame | None:
        """Rows added by DATA-CHANGING snapshots in ``(since, until]``;
        None if empty. A scan of :meth:`incremental_files`."""
        files = self.incremental_files(since, until)
        return self._read_files(spark, files) if files else None

    def incremental_files(
        self, since: str | None, until: str | None = None
    ) -> list[str]:
        """Data files holding the rows added by DATA-CHANGING snapshots in
        ``(since, until]`` (relative to the table root; empty if none).
        Their partition path segments name the touched partitions with no
        data scan.

        Walks the manifest chain and collects each snapshot's file delta
        vs its parent, skipping ``compact`` commits — a compaction
        rewrites existing rows into new files, and a naive two-manifest
        file diff would misread the entire rewritten table as fresh rows
        (degrading every post-maintenance refresh to a full rebuild).
        Same contract as Iceberg's incremental APPEND scan, which also
        excludes replace/rewrite snapshots. No data scan.

        Removals are attributed to the OPERATION that made them: a file a
        ``compact`` dropped from the manifest still holds live rows (the
        rewrite preserved them) and stays in the delta — its bytes remain
        on disk until :meth:`expire_snapshots`, which can only reclaim
        them after every manifest referencing them (including ``since``'s
        whole retained suffix) has been expired, and an expired ``since``
        already degrades to the full-read fallback below. Only
        ``delete_partitions`` / ``overwrite`` / ``overwrite_partitions``
        removals mean the rows themselves are gone or superseded: those
        drop every delta file in the affected partitions (the removal
        grain of both operations). The end-state ``files(until)`` filter
        this replaces silently LOST rows appended after ``since`` and
        compacted before ``until`` — the appends' files failed the
        end-state check while their compacted replacements were skipped.

        If ``since`` has been expired (manifest gone), degrades to the
        FULL ``until`` file set: with idempotent partition overwrite
        downstream this is correct, just not incremental — callers that
        must stay incremental should expire snapshots no older than their
        consumers' high-water marks.
        """
        until = until or self.head()
        if until is None:
            return []
        chain = self.snapshots()
        ids = [m["snapshot_id"] for m in chain]
        if since is not None and since not in ids:
            # since expired: full rebuild fallback (empty when the current
            # file set is itself empty — e.g. every month retained away)
            return self._files(until)
        lo = ids.index(since) + 1 if since is not None else 0
        hi = ids.index(until) + 1
        delta: list[str] = []
        seen: set[str] = set()
        for i in range(lo, hi):
            m = chain[i]
            if m["operation"] == "compact":
                continue  # rewrite-only: no logical row change
            parent_files = set(chain[i - 1]["files"]) if i > 0 else set()
            removed = parent_files - set(m["files"])
            if removed:
                # delete/overwrite removal: rows in the affected
                # partitions are gone/superseded — drop them from the
                # delta BEFORE adding this snapshot's own files
                delta = self._kept(delta, self.partitions(removed))
                seen = set(delta)
            for f in m["files"]:
                if f not in parent_files and f not in seen:
                    seen.add(f)
                    delta.append(f)
        return delta

    def delete_partitions(
        self, values: list[tuple], summary: dict | None = None
    ) -> str | None:
        """Metadata-only partition drop (Iceberg ``DELETE WHERE`` on a
        partition predicate): commit a manifest without the dropped
        partitions' files. No data is rewritten or removed from disk —
        time travel to earlier snapshots still sees the rows until
        :meth:`expire_snapshots` reclaims them. Returns the new snapshot
        id, or None when nothing matched. ``[()]`` — the empty prefix —
        drops every partition (a truncate), also of an unpartitioned table.
        """
        base = self.head()
        cur = self._files(base)
        # prefix match: a tuple shorter than partition_by drops every
        # sub-partition under it (a region drop on a (region, day) table)
        kept = self._kept(cur, self._prefixes(values))
        if len(kept) == len(cur):
            return None
        return self._commit(
            kept,
            "delete_partitions",
            {**(summary or {}), "dropped_files": len(cur) - len(kept)},
            expected_parent=base,
        )

    def compact(
        self,
        spark: SparkSession,
        target_rows_per_file: int = 4_000_000,
        min_files: int = 2,
        summary: dict | None = None,
    ) -> str | None:
        """Small-file compaction (Iceberg ``rewriteDataFiles``): rewrite
        every partition holding >= ``min_files`` data files into
        ~``target_rows_per_file``-row files, commit as one data-preserving
        snapshot. Incremental appends (one file set per ingest) are what
        fragment partitions; at 10^12 rows an uncompacted month would pay
        a task per tiny file on every scan. The rewritten files keep the
        table's sort order. An unpartitioned table (the lineage and
        metrics bookkeeping) is one partition, squashed whole: one append
        per refresh is one more scan branch per read until it is.
        Returns the new snapshot id, or None when nothing needed
        compacting.
        """
        from collections import Counter

        base = self.head()
        cur = self._files(base)
        counts = Counter(self._partition_of(f, self.partition_by) for f in cur)
        todo = {p for p, n in counts.items() if n >= min_files}
        if not todo:
            return None
        kept = self._kept(cur, todo)
        victims = sorted(set(cur).difference(kept))
        df = self._read_files(spark, victims)
        n_rows = df.count()
        n_out = max(1, -(-n_rows // target_rows_per_file))
        _sub, new_files = self._write_files(
            df.repartition(n_out, *self.partition_by)
        )
        return self._commit(
            kept + new_files,
            "compact",
            {
                **(summary or {}),
                "rewritten_files": len(victims),
                "new_files": len(new_files),
            },
            expected_parent=base,
        )

    def expire_snapshots(
        self, keep_last: int = 1, protect: list[str] | tuple[str, ...] = ()
    ) -> dict:
        """Expire all but the newest ``keep_last`` snapshots and delete
        data files no retained snapshot references (Iceberg
        ``expireSnapshots`` + orphan-file removal). This is what makes
        :meth:`delete_partitions` and :meth:`overwrite_partitions`
        eventually reclaim space; until it runs, every historical
        snapshot stays time-travelable.

        ``protect`` names snapshot ids that must STAY in the retained
        chain (plus everything after them) — downstream consumers'
        incremental high-water marks. Expiring below a consumer's HWM
        silently degrades its next refresh to a full rebuild (and can
        resurrect retention-dropped months from a fuller source), so
        the pipeline's ``maintain`` passes every known HWM here.

        Crash ordering: the kept-root manifest is rewritten FIRST, then
        dropped manifests are removed, and data files are deleted LAST —
        a crash at any point leaves at worst orphan data files (space,
        reclaimed by re-running), never a retained manifest chain that
        references deleted parquet.
        """
        chain = self.snapshots()
        ids = [m["snapshot_id"] for m in chain]
        cut = len(chain) - keep_last
        for pid in protect:
            if pid in ids:
                cut = min(cut, ids.index(pid))
        if cut <= 0:
            return {"expired": 0, "files_deleted": 0}
        keep, drop = chain[cut:], chain[:cut]
        live = {f for m in keep for f in m["files"]}
        dead = {f for m in drop for f in m["files"]} - live
        # 1) earliest kept snapshot becomes the chain root
        root = {**self._manifest(keep[0]["snapshot_id"]), "parent": None}
        self._replace(f"snap-{root['snapshot_id']}.json", json.dumps(root))
        # 2) drop expired manifests (chain no longer references them)
        for m in drop:
            try:
                os.remove(
                    os.path.join(self.man_dir, f"snap-{m['snapshot_id']}.json")
                )
            except FileNotFoundError:
                pass
        # 3) only now is no retained manifest referencing the dead files
        for rel in dead:
            try:
                os.remove(os.path.join(self.root, rel))
            except FileNotFoundError:
                pass
        return {"expired": len(drop), "files_deleted": len(dead)}

    def rollback(self, snapshot_id: str) -> None:
        """Reset HEAD to an earlier snapshot (manifests are immutable)."""
        self._manifest(snapshot_id)  # existence check
        self._replace("HEAD", snapshot_id)
