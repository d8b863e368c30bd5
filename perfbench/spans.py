"""Spans, counters and Spark task metrics, recorded from outside the engine.

The benchmark never edits the engine. A traced run wraps the public calls
that cross a layer boundary and tags each phase with a Spark job group:

- ``sources.tableio``: ``SnapshotTable.read``/``read_incremental`` (reads)
  and ``append``/``overwrite_partitions``/``delete_partitions`` (writes),
  attributed to the table's role (raw, tier, packed, tail, bookkeeping);
- ``functions.codecs``: ``decode_ts``/``decode_vals``, which
  ``TierPipeline._read_packed_local`` imports at call time;
- ``plans.pipeline``, ``jobs.rollup_job`` and the driver collect: spans the
  workload code opens around its own calls;
- Spark execution: the local event log, grouped by job group.

Spans stay in memory and are summarised when the run ends. An untraced run
opens no spans, sets no job groups and writes no event log.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

ROLES = ("raw", "tier", "packed", "tail", "bookkeeping")
READS = ("read", "read_incremental")
WRITES = ("append", "overwrite_partitions", "delete_partitions")
#: Spark job groups, one per workload phase
PHASES = ("ingest", "refresh", "pack", "status", "read")


# ------------------------------------------------------------------ helpers


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """Highest of p99/p95/p90/p75/p50 with at least ten of ``n`` samples
    beyond it (integer percents: ``1 - 0.9`` is not exactly 0.1)."""
    for pct in (99, 95, 90, 75):
        if n * (100 - pct) >= 1000:
            return pct / 100
    return 0.5


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span["t1"] - span["t0"]) - covered(
        [(c["t0"], c["t1"]) for c in children], span["t0"], span["t1"]
    )


def table_role(root: str) -> str:
    name = os.path.basename(os.path.normpath(root))
    if name.endswith("_packed"):
        return "packed"
    if name.endswith("_tail"):
        return "tail"
    if name in ("lineage", "metrics"):
        return "bookkeeping"
    if name == "raw":
        return "raw"
    return "tier"


# ------------------------------------------------------------------- tracer


class Tracer:
    """Span recorder. With ``sc=None`` every method is a no-op, so the
    workload code is identical in traced and untraced runs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.recording = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record ``name`` around the block; ``group`` also tags the Spark
        jobs the block runs (restored to ``untimed`` on exit)."""
        if not (self.enabled and self.recording):
            yield
            return
        if group is not None:
            self.sc.setJobGroup(group, name)
        rec = {"name": name, "group": group, "t0": time.time(), "t1": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if group is not None:
                self.sc.setJobGroup("untimed", "untimed")

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled and self.recording:
            self.counts[name] += n

    # -------------------------------------------------------------- wrappers

    def install(self) -> None:
        """Wrap the tableio and codecs entry points (class/module level)."""
        if not self.enabled:
            return
        from c3s_sm_spark.functions import codecs
        from c3s_sm_spark.sources.tableio import SnapshotTable

        tracer = self
        for meth in READS + WRITES:
            kind = "read" if meth in READS else "write"
            orig = getattr(SnapshotTable, meth)

            def wrapped(tbl, *a, _orig=orig, _kind=kind, **kw):
                with tracer.span(f"tableio.{table_role(tbl.root)}.{_kind}"):
                    return _orig(tbl, *a, **kw)

            setattr(SnapshotTable, meth, wrapped)
            self._restore.append((SnapshotTable, meth, orig))
        for fn in ("decode_ts", "decode_vals"):
            orig = getattr(codecs, fn)

            def wrapped_codec(blob, _orig=orig, _fn=fn):
                t0 = time.perf_counter()
                out = _orig(blob)
                tracer.count("codecs.decode_s", time.perf_counter() - t0)
                tracer.count("codecs.decode_calls")
                if _fn == "decode_ts":
                    tracer.count("codecs.points_decoded", len(out))
                return out

            setattr(codecs, fn, wrapped_codec)
            self._restore.append((codecs, fn, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # --------------------------------------------------------------- summary

    def layer_metrics(self) -> dict[str, float]:
        """tableio / pipeline / driver figures from the recorded spans."""
        out: dict[str, float] = {}
        for role in ROLES:
            for kind in ("read", "write"):
                sp = [s for s in self.spans if s["name"] == f"tableio.{role}.{kind}"]
                out[f"tableio.{role}.{kind}_calls"] = len(sp)
                out[f"tableio.{role}.{kind}_s"] = sum(s["t1"] - s["t0"] for s in sp)
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["name"].startswith("tableio."):
                children[s["parent"]].append(s)
        for name in PIPELINE_SPANS:
            total = own = 0.0
            for i, s in enumerate(self.spans):
                if s["name"] == f"pipeline.{name}":
                    total += s["t1"] - s["t0"]
                    own += self_time(s, children[i])
            out[f"pipeline.{name}_s"] = total
            out[f"pipeline.{name}.self_s"] = own
        sp = [s for s in self.spans if s["name"] == "driver.collect"]
        out["driver.collect_s"] = sum(s["t1"] - s["t0"] for s in sp)
        out["driver.rows_collected"] = self.counts["driver.rows_collected"]
        for k in ("decode_calls", "decode_s", "points_decoded"):
            out[f"codecs.{k}"] = self.counts[f"codecs.{k}"]
        return out

    def phase_windows(self) -> dict[str, list[tuple[float, float]]]:
        win: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["group"] is not None:
                win[s["group"]].append((s["t0"], s["t1"]))
        return win


PIPELINE_SPANS = (
    "ingest", "refresh.daily", "refresh.dekadal", "refresh.monthly", "pack",
    "point_read_plan",
)


# ---------------------------------------------------------------- event log


def spark_metrics(event_log: str, windows: dict[str, list[tuple[float, float]]]) -> dict:
    """Per job group: jobs, stages, tasks and task metrics from a local
    (uncompressed, unrolled) Spark event log. ``windows`` holds each
    group's wall intervals (epoch seconds) for ``idle_s``: phase time no
    Spark job of the group covers. Also ``codecs.encode_task_s``: executor
    run time of the pack group's ``MapInPandas`` stages."""
    job_group: dict[int, str] = {}
    job_iv: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    stage_pandas: set[int] = set()
    ran_stages: set[int] = set()
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(event_log) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "untimed"
                job_group[e["Job ID"]] = g
                job_iv[e["Job ID"]] = [e["Submission Time"] / 1000, None]
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif ev == "SparkListenerJobEnd":
                job_iv[e["Job ID"]][1] = e["Completion Time"] / 1000
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                ran_stages.add(si["Stage ID"])
                if any("MapInPandas" in (r.get("Scope") or "") for r in si["RDD Info"]):
                    stage_pandas.add(si["Stage ID"])
            elif ev == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                m = e["Task Metrics"]
                sh_r = m.get("Shuffle Read Metrics", {})
                tasks[e["Stage ID"]].append({
                    "run": m["Executor Run Time"] / 1000,
                    "cpu": m["Executor CPU Time"] / 1e9,
                    "gc": m["JVM GC Time"] / 1000,
                    "sw": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "sr": sh_r.get("Remote Bytes Read", 0) + sh_r.get("Local Bytes Read", 0),
                    "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
                })
    out: dict[str, float] = {}
    for g in PHASES:
        jobs = [j for j, jg in job_group.items() if jg == g]
        stages = [s for s in ran_stages if stage_group.get(s) == g]
        ts = [t for s in stages for t in tasks[s]]
        p = f"spark.{g}."
        out[p + "jobs"] = len(jobs)
        out[p + "stages"] = len(stages)
        out[p + "tasks"] = len(ts)
        out[p + "executor_cpu_s"] = sum(t["cpu"] for t in ts)
        out[p + "executor_run_s"] = sum(t["run"] for t in ts)
        out[p + "gc_s"] = sum(t["gc"] for t in ts)
        out[p + "shuffle_write_bytes"] = sum(t["sw"] for t in ts)
        out[p + "shuffle_read_bytes"] = sum(t["sr"] for t in ts)
        out[p + "spill_bytes"] = sum(t["spill"] for t in ts)
        widest = max(stages, key=lambda s: (len(tasks[s]), sum(t["run"] for t in tasks[s])),
                     default=None)
        skew = 0.0
        if widest is not None and tasks[widest]:
            runs = [t["run"] for t in tasks[widest]]
            med = percentile(runs, 0.5)
            skew = max(runs) / med if med > 0 else 1.0
        out[p + "task_skew"] = skew
        ivs = [tuple(job_iv[j]) for j in jobs if job_iv[j][1] is not None]
        out[p + "idle_s"] = sum(
            (hi - lo) - covered(ivs, lo, hi) for lo, hi in windows.get(g, [])
        )
    out["codecs.encode_task_s"] = sum(
        t["run"] for s in stage_pandas if stage_group.get(s) == "pack" for t in tasks[s]
    )
    return out
