#!/usr/bin/env python
"""Hot-key evidence: plain vs ``_scalable`` order-dependent operators
under ONE pathologically hot key (r4 verdict task 6).

The plain :func:`sessionize` / :func:`asof_join` serialize a key's whole
timeline into one task (the module's documented per-key bound); the
``_scalable`` twins split every key's timeline into contiguous
range-partition chunks and merge boundary state. The pytest suite pins
hash-identity on small inputs; THIS script shows the escape is a
measured wall-clock win where it matters — a key holding ~10^7 rows
while 200 normal keys hold ~5k rows each (a 10^9-event clickstream user
at sandbox scale).

Isolation protocol (same as bench.py): every (operator, variant) cell
runs in its OWN JVM subprocess — a 10^7-row single-task sort leaves
heap/GC churn that taxes whatever runs next in the same JVM (measured:
the identical scalable run is up to 3x slower when timed directly after
the plain run than in a fresh JVM, enough to FLIP the comparison).
Inside each JVM the measurement is best-of-2.

Each cell runs the same job shape: operator -> exact integer checksum
aggregate (count + sum(pmod(xxhash64)) + bit_xor(xxhash64) over the
output rows), so the hot task's work cannot be optimized away and the
two variants' outputs are proven IDENTICAL row-set-wise, not just
timed.

Prints one JSON line; appended to BASELINE.md by hand.

Run: python tools/bench_hotkey.py [--hot 10000000] [--cold-keys 200]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from c3s_sm_spark.session import host_cpus  # noqa: E402

_CELL = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from c3s_sm_spark.session import get_spark
sys.path.insert(0, {repo!r} + "/tools")
from bench_hotkey import hot_events, checksum
from c3s_sm_spark.operators.timeseries import (
    asof_join, asof_join_scalable, sessionize, sessionize_scalable,
)
spark = get_spark(app_name="bench_hotkey_cell")
ev = hot_events(spark, {hot}, {cold_keys}, {cold_rows}).localCheckpoint()
op, variant, gap_s = {op!r}, {variant!r}, {gap_s}
if op == "sessionize":
    fn = sessionize if variant == "plain" else sessionize_scalable
    def run():
        return checksum(fn(ev, "k", "ts", gap_s), ["k", "ts", "session_seq"])
else:
    probes = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 SECONDS")) \
               .where(F.pmod(F.xxhash64("k", "ts"), F.lit(10)) == 0)
    right = ev.withColumn("value", F.unix_timestamp("ts").cast("long"))
    jf = asof_join if variant == "plain" else asof_join_scalable
    def run():
        return checksum(jf(probes, right, ["k"], value_cols=["value"]),
                        ["k", "ts", "asof_value"])
best, res = None, None
for _ in range(2):
    t0 = time.perf_counter()
    res = run()
    dt = time.perf_counter() - t0
    best = dt if best is None or dt < best else best
print("CELL" + json.dumps({{"sec": round(best, 3), "checksum": list(res)}}))
"""


def hot_events(spark, hot_rows: int, cold_keys: int, cold_rows: int):
    """One hot key (k=0) with ``hot_rows`` events at irregular 10-70 s
    steps (so sessionize at gap 60 s has real boundaries), plus
    ``cold_keys`` keys of ``cold_rows`` each. Deterministic pure-column
    exprs over spark.range — no data files, no Python."""
    from pyspark.sql import functions as F

    hot = spark.range(0, hot_rows, 1, 64).select(
        F.lit(0).cast("long").alias("k"),
        F.timestamp_seconds(
            F.lit(1_600_000_000)
            + F.col("id") * 40
            + F.pmod(F.xxhash64("id"), F.lit(61))
            - 30
        ).alias("ts"),
    )
    cold = spark.range(0, cold_keys * cold_rows, 1, 64).select(
        (F.pmod(F.col("id"), F.lit(cold_keys)) + 1).cast("long").alias("k"),
        F.timestamp_seconds(
            F.lit(1_600_000_000)
            + (F.col("id") / cold_keys).cast("long") * 40
            + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(61))
            - 30
        ).alias("ts"),
    )
    return hot.unionByName(cold)


def checksum(df, cols):
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # pmod keeps the ANSI-mode sum inside int64 (2^36 * 10^7 << 2^63);
        # the bit_xor fold keeps full 64-bit sensitivity
        F.sum(F.pmod(h, F.lit(1 << 36))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).head()
    return int(row["n"]), int(row["s"]), int(row["x"])


def run_cell(op, variant, args) -> dict:
    code = _CELL.format(
        repo=REPO,
        hot=args.hot,
        cold_keys=args.cold_keys,
        cold_rows=args.cold_rows,
        gap_s=args.gap_s,
        op=op,
        variant=variant,
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    for line in proc.stdout.splitlines():
        if line.startswith("CELL{"):
            return json.loads(line[4:])
    raise RuntimeError(
        f"cell {op}/{variant} produced no result:\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hot", type=int, default=10_000_000)
    ap.add_argument("--cold-keys", type=int, default=200)
    ap.add_argument("--cold-rows", type=int, default=5_000)
    ap.add_argument("--gap-s", type=int, default=60)
    args = ap.parse_args()
    out: dict = {
        "metric": "hot-key escape: plain vs _scalable wall sec "
        "(fresh JVM per cell, best of 2)",
        "hot_rows": args.hot,
        "cold_keys": args.cold_keys,
        "cold_rows": args.cold_rows,
        "cpus": host_cpus(),
    }
    for op in ("sessionize", "asof_join"):
        plain = run_cell(op, "plain", args)
        scal = run_cell(op, "scalable", args)
        assert plain["checksum"] == scal["checksum"], (op, plain, scal)
        out[op] = {
            "plain_sec": plain["sec"],
            "scalable_sec": scal["sec"],
            "speedup": round(plain["sec"] / scal["sec"], 2),
            "rows": plain["checksum"][0],
            "hash_match": True,
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
