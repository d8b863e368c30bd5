#!/usr/bin/env python
"""spark-submit entry point for the tier rollup engine.

Mirrors the reference CLI surface (``c3s_sm reshuffle`` / ``update_ts`` /
time-series read; ``/root/reference/src/c3s_sm/cli.py:182,234,39``) as
subcommands over the snapshot-table pipeline:

    synth    generate + ingest the deterministic input_hint corpus
    rollup   full or incremental tier refresh (idempotent, resumable)
    extend   alias of rollup --tiers all (reference extend_ts: only new
             source snapshots are folded in)
    pack      materialize packed-series (DoD+Gorilla) form of a tier
    read      one key's series from a tier (packed-aware point read)
    retention age out month partitions per keep-N-months policy
    maintain  small-file compaction + snapshot expiry
    status    high-water marks, lineage run counts + per-tier coverage

Cluster launch::

    spark-submit --py-files dist/c3s_sm_spark.zip jobs/rollup_job.py \
        --base /data/tiers rollup

Local (this sandbox)::

    python jobs/rollup_job.py --base /tmp/tiers synth --docs 2000
    python jobs/rollup_job.py --base /tmp/tiers rollup
    python jobs/rollup_job.py --base /tmp/tiers read --key doc0000000007
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql.types import IntegralType

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from c3s_sm_spark.plans.pipeline import TIERS, TierPipeline  # noqa: E402
from c3s_sm_spark.session import get_spark  # noqa: E402
from c3s_sm_spark.synth import gen_sequences, sequences_to_points  # noqa: E402


def _pipeline(args) -> TierPipeline:
    spark = get_spark(app_name=f"rollup_job:{args.cmd}", master=args.master)
    return TierPipeline(spark, args.base)


def cmd_synth(args) -> None:
    p = _pipeline(args)
    seq = gen_sequences(p.spark, args.docs)
    snap = p.ingest(sequences_to_points(seq))
    print(json.dumps({"ingested_docs": args.docs, "snapshot": snap}))


def _parse_tiers(spec: str) -> list[str] | None:
    if spec == "all":
        return None
    tiers = [t.strip() for t in spec.split(",") if t.strip()]
    bad = [t for t in tiers if t not in TIERS]
    if bad:
        raise SystemExit(
            f"unknown tier(s) {bad}; valid: {', '.join(TIERS)}"
        )
    return tiers


def cmd_rollup(args) -> None:
    # validate BEFORE starting Spark: a typo'd tier must be a usage
    # error, not a KeyError after half the tiers already refreshed
    tiers = _parse_tiers(args.tiers)
    p = _pipeline(args)
    report = p.refresh(tiers)
    print(json.dumps(report))


def cmd_pack(args) -> None:
    p = _pipeline(args)
    snap = p.pack_tier(args.tier, fold=True if args.fold else None)
    print(json.dumps({"tier": args.tier, "snapshot": snap}))


def cmd_read(args) -> None:
    p = _pipeline(args)
    key = args.key
    # --key arrives as text: an integer-key tier takes it as an int, the
    # type whose bucket the driver-side read can hash
    if isinstance(p.tiers[args.tier].recorded_type(p.key), IntegralType):
        try:
            key = int(key)
        except ValueError:
            raise SystemExit(
                f"--key {key!r}: the {args.tier} tier has integer keys"
            )
    rows = (
        p.point_read(key, args.tier, start=args.start, end=args.end)
        .limit(args.limit)
        .collect()
    )
    for r in rows:
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))


def cmd_retention(args) -> None:
    policy = {}
    valid = {"raw", *TIERS}
    for item in args.keep.split(","):
        try:
            tier, months = item.split("=")
        except ValueError:
            raise SystemExit(f"bad --keep entry {item!r}; use tier=months")
        tier = tier.strip()
        if tier not in valid:
            raise SystemExit(
                f"unknown tier {tier!r}; valid: {', '.join(sorted(valid))}"
            )
        policy[tier] = int(months)
    p = _pipeline(args)
    report = p.retention(policy, as_of=args.as_of)
    print(json.dumps(report))


def cmd_maintain(args) -> None:
    p = _pipeline(args)
    report = p.maintain(
        target_rows_per_file=args.target_rows, keep_snapshots=args.keep_snapshots
    )
    print(json.dumps(report))


def cmd_status(args) -> None:
    p = _pipeline(args)
    out: dict = {"tiers": {}}
    try:
        lin = (
            p.lineage.read(p.spark)
            .where("status = 'ok'")
            .select("tier", "finished_at", "n_rows")
            .collect()
        )
    except FileNotFoundError:
        print(json.dumps({"tiers": {}, "note": "no runs yet"}))
        return
    for t in TIERS:
        rows = sorted(
            (r for r in lin if r["tier"] == t), key=lambda r: r["finished_at"]
        )
        if rows:
            # the HWM has one definition, the one refresh uses: the
            # tier commit's recorded source snapshot; live files come from
            # the HEAD manifest and bytes from the write-time stats
            # records (no stat call, no job)
            out["tiers"][t] = {
                "hwm_snapshot": p._hwm(t),
                "runs": len(rows),
                "last_rows": rows[-1]["n_rows"],
                "files": len(p.tiers[t]._files()),
                "bytes": p.tiers[t].live_bytes(),
            }
    out["coverage"] = [
        {k: str(v) for k, v in r.asDict().items()}
        for r in p.coverage().collect()
    ]
    # packed/tail state (r5 LSM design): which tier snapshot the packed
    # form serves, how many months currently ride in the unpacked tail,
    # and the fold pressure (tail bytes as a fraction of packed bytes)
    packed: dict = {}
    for t in TIERS:
        ptbl = p.packed[t]
        head = ptbl.head()
        if head is None:
            continue
        summ = ptbl._manifest(head)["summary"]
        pb = ptbl.live_bytes()
        tb = p.tails[t].live_bytes()
        packed[t] = {
            "src_snapshot": summ.get("src_snapshot"),
            "stale": summ.get("src_snapshot") != p.tiers[t].head(),
            "mode": summ.get("mode", "full"),
            "masked_months": summ.get("masked_months", []),
            "packed_bytes": pb,
            "tail_bytes": tb,
            "fold_pressure": round(tb / pb, 3) if pb else None,
        }
    if packed:
        out["packed"] = packed
    print(json.dumps(out))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="rollup_job", description=__doc__)
    ap.add_argument("--base", required=True, help="pipeline base directory")
    ap.add_argument("--master", default=None, help="spark master override")
    sub = ap.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="generate + ingest synthetic corpus")
    s.add_argument("--docs", type=int, default=2000)
    s.set_defaults(fn=cmd_synth)

    for name in ("rollup", "extend"):
        s = sub.add_parser(name, help="full/incremental tier refresh")
        s.add_argument("--tiers", default="all", help="comma list or 'all'")
        s.set_defaults(fn=cmd_rollup)

    s = sub.add_parser("pack", help="materialize packed-series tier")
    s.add_argument("--tier", default="daily", choices=list(TIERS))
    s.add_argument(
        "--fold",
        action="store_true",
        help="force a full repack + tail truncate instead of the "
        "incremental tail append",
    )
    s.set_defaults(fn=cmd_pack)

    s = sub.add_parser("read", help="point time-series read")
    s.add_argument("--key", required=True)
    s.add_argument("--tier", default="daily", choices=list(TIERS))
    s.add_argument("--limit", type=int, default=50)
    s.add_argument("--start", default=None, help="inclusive ts lower bound")
    s.add_argument("--end", default=None, help="inclusive ts upper bound")
    s.set_defaults(fn=cmd_read)

    s = sub.add_parser(
        "retention", help="age out old month partitions per tier"
    )
    s.add_argument(
        "--keep",
        required=True,
        help="policy, e.g. 'raw=2,daily=6,dekadal=24' (months per tier)",
    )
    s.add_argument("--as-of", default=None, help="horizon anchor YYYY-MM")
    s.set_defaults(fn=cmd_retention)

    s = sub.add_parser(
        "maintain", help="compact small files + expire old snapshots"
    )
    s.add_argument("--target-rows", type=int, default=4_000_000)
    s.add_argument("--keep-snapshots", type=int, default=3)
    s.set_defaults(fn=cmd_maintain)

    s = sub.add_parser("status", help="HWMs, lineage runs + coverage")
    s.set_defaults(fn=cmd_status)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
