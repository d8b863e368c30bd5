#!/usr/bin/env python3
"""TierPipeline benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Both workloads are closed loops with one
client on ``local[nproc]``, and both end by serving seeded point reads from
the tables they built, a share of them bounded and a share on the unpacked
``dekadal`` tier:

- ``backfill``: seeded input_hint corpus -> ``sequences_to_points`` ->
  ``ingest`` -> ``refresh`` of every tier -> full ``pack_tier("daily")``,
  into fresh tables; the reads see a packed table with no tail.
- ``delta``: set-up ingests, refreshes and packs a daily history with gaps
  and duplicates. The timed cycle ingests the next month for a seeded
  tenth of the keys, refreshes every tier and packs the daily tail; then
  ``rollup_job status`` runs in-process, and the reads go through the
  packed table plus its tail (one masked month).

The timed operation counts are fixed, so every run reports the same
percentiles of the same number of samples. ``--seconds`` is a floor on the
read loop: it goes on past its fixed count until that long has passed.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: the gated end-to-end metrics with ``--trace 0`` (CPU time of
this process plus the JVM, and packed bytes per point), per-layer metrics
with ``--trace 1``. The line before it is a JSON summary of the run: wall
times and the other figures under their own names with units, the error
rate and the run's context (host probe, filesystem, Spark sizing).
Reference values for the output checks are computed outside the timed
region. Everything the run writes goes under ``.perfbench-work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

BACKFILL_DOCS = 600
#: months the backfill corpus spans (synth.T0 plus up to 85 days)
BACKFILL_MONTHS = ["2019-10", "2019-11", "2019-12"]
#: corpus writes behind the backfill's setup_s (median)
BACKFILL_SETUP_REPS = 3
HISTORY_KEYS = 300
HISTORY_START = (2019, 1)
HISTORY_MONTHS = 2
#: point reads after the timed operation: packed reads (through the tail
#: on delta; with [start, end] bounds on a share of them) and unpacked
#: dekadal-tier reads
PACKED_READS = 8
TIER_READS = 2
BOUNDED_SHARE = 0.3
#: sampled keys per output check
CHECK_KEYS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------- host


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory(avail_gb: float) -> str:
    """A quarter of available memory, 1-2 GB: the tables are small, and a
    fixed heap keeps the JVM's footprint comparable between runs."""
    return f"{int(max(1, min(2, avail_gb // 4)))}g"


def filesystem_of(path: str) -> dict:
    best = ("", "?", "?")
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if path == mnt or path.startswith(mnt.rstrip("/") + "/"):
                if len(mnt) > len(best[0]):
                    best = (mnt, fstype, dev)
    return {"mount": best[0], "fstype": best[1], "device": best[2]}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_s(spark) -> float:
    """CPU seconds (user + system) used so far by this process and the JVM."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in ("self", spark.sparkContext._gateway.proc.pid):
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / tick


def clock(spark) -> tuple[float, float]:
    """(wall, CPU) seconds now; :func:`since` gives a block's share."""
    return time.perf_counter(), cpu_s(spark)


def since(spark, c0: tuple[float, float]) -> tuple[float, float]:
    wall, cpu = clock(spark)
    return wall - c0[0], cpu - c0[1]


def start_spark(work: str, cores: int, trace: bool):
    mem = driver_memory(host_memory_gb())
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; pin both inside
    # the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["SPARK_DRIVER_MEM"] = mem
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": mem,
        "spark.local.dir": local_dir,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from c3s_sm_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.range(1).count()  # first job: executor and codegen up
    return spark, time.perf_counter() - t0, {"driver_memory": mem, "local_dir": local_dir}


def host_probe(spark, cores: int) -> dict:
    """Same-JVM CPU probe at the running core count (context only)."""
    from pyspark.sql import functions as F

    n = 10_000_000 * cores
    q = (spark.range(0, n, 1, cores * 4)
         .select((F.xxhash64("id") % 1_000_000).alias("h")).agg(F.sum("h")))
    q.head()
    t0 = time.perf_counter()
    q.head()
    return {"rows": n, "cores": cores, "s": round(time.perf_counter() - t0, 4)}


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def table_figures(p) -> dict:
    """Manifest-level figures of a pipeline's tables at the end of a run."""
    tables = [p.raw, *p.tiers.values(), *p.packed.values(), *p.tails.values(),
              p.lineage, p.metrics]
    files = snaps = 0
    for t in tables:
        chain = t.snapshots()
        snaps += len(chain)
        files += len(chain[-1]["files"]) if chain else 0

    def nbytes(t):
        chain = t.snapshots()
        if not chain:
            return 0
        return sum(os.path.getsize(os.path.join(t.root, f)) for f in chain[-1]["files"])

    return {"tableio.files_live": files, "tableio.snapshots": snaps,
            "codecs.packed_bytes": nbytes(p.packed["daily"]),
            "codecs.tail_bytes": nbytes(p.tails["daily"])}


# -------------------------------------------------------------------- checks


class Checks:
    """Counts operations and failed output checks for error_rate."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
            log(f"FAILED: {what}")


def _series(rows) -> list[tuple]:
    """(ts, v_mean) pairs in ts order; NULL and NaN compare equal."""
    out = []
    for r in rows:
        v = r["v_mean"]
        out.append((r["ts"], None if v is None or math.isnan(v) else v))
    return sorted(out, key=lambda x: x[0])


def tier_series(p, tier: str, keys: list) -> dict:
    """Reference rows: each key's rows straight from the tier table."""
    from pyspark.sql import functions as F

    rows = p.read_tier(tier).where(F.col(p.key).isin(keys)).select(p.key, "ts", "v_mean").collect()
    out: dict = {k: [] for k in keys}
    for r in rows:
        out[r[p.key]].append(r)
    return {k: _series(v) for k, v in out.items()}


def bounded(series: list[tuple], start, end) -> list[tuple]:
    import datetime as dt

    lo = dt.datetime.fromisoformat(start) if start else None
    hi = dt.datetime.fromisoformat(end) if end else None
    return [x for x in series if (lo is None or x[0] >= lo) and (hi is None or x[0] <= hi)]


def tier_mismatches(spark, p, keys: list) -> dict[str, int]:
    """Rows of sampled keys where a tier differs from a from-scratch
    recomputation of the raw table with the refresh operators (keep-latest,
    rollup, cascade). Sums are compared to 1e-9 relative: their addition
    order differs."""
    from pyspark.sql import functions as F

    from c3s_sm_spark.operators.dedup import keep_latest
    from c3s_sm_spark.operators.rollup import cascade, rollup

    raw = p.raw.read(spark).where(F.col(p.key).isin(keys))
    daily = rollup(keep_latest(raw, [p.key, "ts"], ["version"]), [p.key], "ts", "daily",
                   value_col="v", flag_col="flag")
    dek = cascade(daily, [p.key], "dekadal")
    refs = {"daily": daily, "dekadal": dek, "monthly": cascade(dek, [p.key], "monthly")}

    def close(a, b):
        return (a.isNull() & b.isNull()) | (F.abs(a - b) <= F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(a)))

    out = {}
    for tier, ref in refs.items():
        got = p.read_tier(tier).where(F.col(p.key).isin(keys)).drop("pmonth")
        j = ref.alias("r").join(got.alias("g"), [p.key, "ts"], "full_outer")
        bad = ~(
            F.col("r.nobs").eqNullSafe(F.col("g.nobs")) & F.col("r.nobs").isNotNull()
            & F.col("r.flags").eqNullSafe(F.col("g.flags"))
            & close(F.col("r.v_sum"), F.col("g.v_sum"))
            & close(F.col("r.v_mean"), F.col("g.v_mean"))
        )
        out[tier] = j.where(bad).count()
    return out


# ----------------------------------------------------------------- workloads


def refresh_all(p, tr) -> None:
    from c3s_sm_spark.plans.pipeline import TIERS

    # one refresh call per tier: the same work as refresh() over all tiers,
    # with a span per tier
    for t in TIERS:
        with tr.span(f"pipeline.refresh.{t}", group="refresh"):
            p.refresh([t])


def point_read(p, tr, req: dict):
    with tr.span("pipeline.point_read_plan", group="read"):
        df = p.point_read(req["key"], req["tier"], start=req["start"], end=req["end"])
    with tr.span("driver.collect", group="read"):
        rows = df.collect()
    tr.count("driver.rows_collected", len(rows))
    return rows


def serve_reads(p, tr, seed, seconds, n_keys, key_of, months, checks) -> dict:
    """Seeded point reads (untimed warm-up first), each checked against
    the tier's own rows. Returns (wall, cpu) seconds per read, by tier."""
    from inputs import read_plan

    def plan(s, n_packed, n_tier):
        reqs = read_plan(s, n_keys, n_packed, n_tier, months, BOUNDED_SHARE)
        return [{**r, "key": key_of(r["key"])} for r in reqs]

    for req in plan(seed + 1, 1, 1):
        point_read(p, tr, req)
    reqs = plan(seed, PACKED_READS, TIER_READS)
    results, lat = [], {"daily": [], "dekadal": []}
    tr.recording = True
    t_start = time.perf_counter()
    while len(results) < len(reqs):
        req = reqs[len(results)]
        c0 = clock(p.spark)
        try:
            rows = point_read(p, tr, req)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            log(f"read {req} raised {e!r}")
            rows = None
        lat[req["tier"]].append(since(p.spark, c0))
        results.append(rows)
        if len(results) == len(reqs) and time.perf_counter() - t_start < seconds:
            # --seconds floor not reached: the same plan once more
            reqs += reqs[: PACKED_READS + TIER_READS]
    tr.recording = False
    refs = {t: tier_series(p, t, sorted({r["key"] for r in reqs if r["tier"] == t}))
            for t in lat}
    for req, rows in zip(reqs, results):
        ok = rows is not None and _series(rows) == bounded(
            refs[req["tier"]][req["key"]], req["start"], req["end"])
        checks.op(ok, f"read {req} differs from the tier rows")
    return lat


def run_backfill(spark, tr, work: str, seed: int, seconds: int, checks: Checks) -> dict:
    from pyspark.sql import functions as F

    from c3s_sm_spark.operators.rollup import rollup
    from c3s_sm_spark.plans.pipeline import TierPipeline
    from c3s_sm_spark.synth import sequences_to_points
    from inputs import corpus, doc_offset

    setups = []
    for k in range(BACKFILL_SETUP_REPS):
        path = os.path.join(work, f"corpus{k}")
        c0 = clock(spark)
        corpus(spark, BACKFILL_DOCS, seed).write.parquet(path)
        setups.append(since(spark, c0))
    seq = spark.read.parquet(path)
    n_points = seq.agg(F.sum("n_tok")).head()[0]

    tr.recording = True
    c0 = clock(spark)
    p = TierPipeline(spark, os.path.join(work, "backfill"), key="doc_key")
    with tr.span("pipeline.ingest", group="ingest"):
        p.ingest(sequences_to_points(seq))
    refresh_all(p, tr)
    with tr.span("pipeline.pack", group="pack"):
        p.pack_tier("daily", incremental=False)
    build = since(spark, c0)
    tr.recording = False
    # daily sum(nobs) == deduplicated raw count (positions are unique per
    # doc, so every corpus token is one distinct point)
    got = p.read_tier("daily").agg(F.sum("nobs")).head()[0]
    checks.op(got == n_points, f"backfill: daily sum(nobs) {got} != {n_points} raw points")
    # monthly tier == a direct monthly rollup of the raw points, sampled keys
    keys = [doc_offset(seed) + i for i in range(0, BACKFILL_DOCS, BACKFILL_DOCS // CHECK_KEYS)]
    cols = ["doc_key", "ts", "v_mean", "v_sum", "nobs", "flags"]
    ref = rollup(sequences_to_points(seq).where(F.col("doc_key").isin(keys)), ["doc_key"],
                 "ts", "monthly", value_col="v", flag_col="flag").select(*cols)
    got = p.read_tier("monthly").where(F.col("doc_key").isin(keys)).select(*cols)
    diff = ref.exceptAll(got).count() + got.exceptAll(ref).count()
    checks.op(diff == 0, f"backfill: monthly tier differs from direct rollup in {diff} rows")

    reads = serve_reads(p, tr, seed, seconds, BACKFILL_DOCS, lambda i: doc_offset(seed) + i,
                        BACKFILL_MONTHS, checks)
    return {
        "setups": setups, "op": build, "reads": reads, "pipeline": p,
        "figures": {"backfill_s": (build[0], "s"),
                    "backfill_pts_per_s": (n_points / build[0], "1/s")},
        "info": {"raw_points": n_points},
    }


def delta_month(cycle: int) -> tuple[int, int]:
    """Year and month that delta cycle ``cycle`` (0-based) lands."""
    m = HISTORY_START[0] * 12 + HISTORY_START[1] - 1 + HISTORY_MONTHS + cycle
    return m // 12, m % 12 + 1


def run_delta(spark, tr, work: str, seed: int, seconds: int, checks: Checks) -> dict:
    from c3s_sm_spark.plans.pipeline import TierPipeline
    from inputs import daily_points, doc_id, month_range

    spec = importlib.util.spec_from_file_location(
        "rollup_job", os.path.join(ROOT, "jobs", "rollup_job.py"))
    rollup_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rollup_job)

    c0 = clock(spark)
    p = TierPipeline(spark, os.path.join(work, "delta"))
    p.ingest(daily_points(spark, HISTORY_KEYS, seed, *month_range(*HISTORY_START, HISTORY_MONTHS)))
    p.refresh()
    p.pack_tier("daily", incremental=False)
    setups = [since(spark, c0)]

    # one cycle: the next month lands for a seeded tenth of the keys
    tr.recording = True
    c0 = clock(spark)
    with tr.span("pipeline.ingest", group="ingest"):
        p.ingest(daily_points(spark, HISTORY_KEYS, seed, *month_range(*delta_month(0), 1),
                              cycle=0))
    refresh_all(p, tr)
    with tr.span("pipeline.pack", group="pack"):
        p.pack_tier("daily")
    cycle = since(spark, c0)
    buf = io.StringIO()
    c0 = clock(spark)
    with tr.span("status", group="status"), contextlib.redirect_stdout(buf):
        rollup_job.cmd_status(argparse.Namespace(base=p.base, master=None, cmd="status"))
    status = since(spark, c0)
    tr.recording = False
    st = json.loads(buf.getvalue().strip().splitlines()[-1])
    fresh = st.get("packed", {}).get("daily", {}).get("stale") is False
    checks.op(fresh, "delta: status after the cycle reports a stale packed table")
    sample = [doc_id(seed, i) for i in range(0, HISTORY_KEYS, HISTORY_KEYS // CHECK_KEYS)]
    bad = tier_mismatches(spark, p, sample)
    checks.op(sum(bad.values()) == 0, f"delta: tiers differ from a recomputation: {bad}")
    masked = p.packed["daily"].snapshots()[-1]["summary"].get("masked_months", [])
    checks.op(len(masked) == 1, f"delta: masked months {masked}")

    months = [f"{y:04d}-{m:02d}" for y, m in map(delta_month, range(-HISTORY_MONTHS, 1))]
    reads = serve_reads(p, tr, seed, seconds, HISTORY_KEYS, lambda i: doc_id(seed, i), months,
                        checks)
    return {
        "setups": setups, "op": cycle, "reads": reads, "pipeline": p,
        "figures": {"delta_cycle_s": (cycle[0], "s"), "status_s": (status[0], "s"),
                    "status_cpu_s": (status[1], "s")},
        "info": {"masked_months": masked},
    }


RUNNERS = {"backfill": run_backfill, "delta": run_delta}

# ------------------------------------------------------------------- metrics

#: gated end-to-end metrics; every workload reports every one of them. The
#: timings are CPU seconds of this process plus the JVM (cpu_s): on a
#: shared VM they spread far less between runs than wall time (NOTES.md)
END_TO_END = {
    "setup_s": "s", "op_cpu_s": "s", "read_cpu_ms": "ms", "packed_bytes_per_point": "B/point",
}


def layer_unit(name: str) -> str:
    if "_ms" in name:
        return "ms"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("bytes_per_point"):
        return "B/point"
    if name.endswith("task_skew") or name.endswith("ratio"):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    return "count"


def run(args, work: str) -> int:
    from selfcheck import check
    from spans import Tracer, percentile, spark_metrics, tail_quantile

    check()
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    spark, session_s, sizing = start_spark(work, cores, trace)
    session_cpu = cpu_s(spark)
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    try:
        probe = host_probe(spark, cores)
        tr = Tracer(sc if trace else None)
        tr.install()
        if trace:
            sc.setJobGroup("untimed", "untimed")
        checks = Checks()
        res = RUNNERS[args.workload](spark, tr, work, args.seed, args.seconds, checks)
        tr.uninstall()
        p = res["pipeline"]
        figs = table_figures(p)
        tier_points = p.read_tier("daily").count()
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        app_id = sc.applicationId
    finally:
        stop_spark(spark)

    reads = res["reads"]
    every_read = reads["daily"] + reads["dekadal"]
    e2e = {
        "setup_s": session_cpu + statistics.median(c for _, c in res["setups"]),
        "op_cpu_s": res["op"][1],
        "read_cpu_ms": 1000 * statistics.fmean(c for _, c in every_read),
        "packed_bytes_per_point": (figs["codecs.packed_bytes"] + figs["codecs.tail_bytes"])
        / max(1, tier_points),
    }
    packed_wall = [w for w, _ in reads["daily"]]
    figures = {
        "setup_wall_s": (session_s + statistics.median(w for w, _ in res["setups"]), "s"),
        **res["figures"],
        "point_read_ms.p50": (1000 * statistics.median(packed_wall), "ms"),
    }
    tail_q = tail_quantile(len(packed_wall))
    if tail_q > 0.5:
        # only when the --seconds floor added reads: the fixed count has
        # fewer than ten samples beyond any percentile above the median
        figures[f"point_read_ms.p{round(100 * tail_q)}"] = (
            1000 * percentile(packed_wall, tail_q), "ms")
    figures.update({
        "tier_read_ms.p50": (1000 * statistics.median(w for w, _ in reads["dekadal"]), "ms"),
        "peak_rss_mb": (rss, "MB"),
        "error_rate": (checks.failed / max(1, checks.attempted), "ratio"),
    })
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "figures": {k: {"value": round(v, 6), "unit": u} for k, (v, u) in figures.items()},
        "failures": checks.notes[:10], **res["info"],
        "read_ms": {t: [[round(1000 * w, 1), round(1000 * c)] for w, c in v]
                    for t, v in reads.items()},
        "session_start_s": round(session_s, 3), "session_cpu_s": round(session_cpu, 3),
        "setup_reps_s": [[round(w, 3), round(c, 3)] for w, c in res["setups"]],
        "cores": cores, "host_probe": probe,
        "spark": {"master": f"local[{cores}]", **sizing},
        "tables_fs": filesystem_of(work),
        "local_dir_fs": filesystem_of(sizing["local_dir"]),
        "flush_policy": "commits write manifests and swap HEAD with os.replace; no fsync",
    }
    if trace:
        layers = {"session.start_s": session_s, **tr.layer_metrics(), **figs}
        layers.update(spark_metrics(os.path.join(work, "eventlog", app_id), tr.phase_windows()))
        layers["status.spark_jobs"] = layers["spark.status.jobs"]
        # the traced run's own end-to-end figures; divided by an untraced
        # run's (perfbench/overhead.py) they give the tracing overhead
        layers.update({f"trace.{k}": v for k, v in e2e.items()})
        layers["trace.op_s"] = res["op"][0]
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps(summary), flush=True)
    print(json.dumps({"correct": checks.failed == 0, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=1,
                    help="floor on the read loop's duration (s)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "c3s_sm_spark", "plans", "pipeline.py")):
        log(f"no c3s_sm_spark package under {ROOT}: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
