#!/usr/bin/env python
"""Physical-plan audit: writes PLANS.md with `.explain("formatted")` for
the engine's load-bearing plans plus automated checks that each plan has
the shape we designed for (filter pushdown reaching the scan, broadcast
on dimension sides, whole-stage codegen spans, partial aggregation).

Run: python tools/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from c3s_sm_spark.operators.calendar import temporal_grid  # noqa: E402
from c3s_sm_spark.operators.dedup import keep_latest  # noqa: E402
from c3s_sm_spark.operators.gapfill import gap_fill  # noqa: E402
from c3s_sm_spark.operators.rollup import cascade, rollup  # noqa: E402
from c3s_sm_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


#: run-dependent tokens with no meaning across runs -> fixed placeholders
_PLACEHOLDERS = (
    (r"RDD\[\d+\]", "RDD[<id>]"),
    (re.escape(tempfile.gettempdir()) + r"/audit_tiers_\w+", "<tmp>/audit_tiers"),
    # snapshot subtrees: s<13-digit epoch ms><6 hex> (tableio)
    (r"/s\d{13}[0-9a-f]{6}/", "/s<snapshot>/"),
    (r"[0-9a-f]{8}-(?:[0-9a-f]{4}-){3}[0-9a-f]{12}", "<uuid>"),
)


def normalize(txt: str) -> str:
    """A plan's text with its session-dependent tokens fixed, so that a
    rerun rewrites only the plans that changed: expression ids and
    ``plan_id``s renumbered in order of first use (links inside the plan
    survive), RDD ids, temp paths, snapshot subtrees and part-file UUIDs
    replaced by placeholders."""
    for pattern in (r"(?<=#)\d+", r"(?<=plan_id=)\d+"):
        ids: dict[str, str] = {}
        txt = re.sub(
            pattern, lambda m: ids.setdefault(m.group(), str(len(ids) + 1)), txt
        )
    for pattern, placeholder in _PLACEHOLDERS:
        txt = re.sub(pattern, placeholder, txt)
    return txt


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(app_name="explain_audit", master="local[4]")
    ev = spark.read.parquet(f"{SF}/events.parquet")

    sections: list[tuple[str, str, dict[str, bool]]] = []

    def audit(name: str, df, want: dict[str, str], extra=None) -> None:
        txt = plan_text(df)
        checks = {label: (needle in txt) for label, needle in want.items()}
        if extra:
            checks.update(extra(txt))
        sections.append((name, txt, checks))

    # 1. filter + projection pushdown into the parquet scan
    q = ev.where(
        (F.col("event_type") == "click") & (F.col("ts") > "2024-01-10")
    ).select("user_id", "value")
    audit(
        "predicate + column pushdown (P1/P4)",
        q,
        {
            "filters pushed to scan": "PushedFilters: [IsNotNull(event_type)",
            "only needed cols read": "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string,value:double>",
            "whole-stage codegen": "codegen id",
        },
    )

    # 2. daily rollup: partial (map-side) + final hash aggregate
    daily = rollup(
        ev.select(
            F.col("user_id").alias("doc_id"), "ts", F.col("value").alias("v")
        ),
        ["doc_id"],
        "ts",
        "daily",
        flag_col=None,
    )
    audit(
        "daily rollup (A1/A2): partial+final hash agg",
        daily,
        {
            "map-side partial agg": "partial_sum",
            "hash aggregate": "HashAggregate",
        },
        extra=lambda txt: {"single shuffle": txt.count("Exchange (") == 1},
    )

    # 3. cascade dekadal <- daily: agg on the (already tiny) daily tier
    audit(
        "dekadal cascade (R1)",
        cascade(daily, ["doc_id"], "dekadal"),
        {"hash aggregate": "HashAggregate", "partial agg": "partial_sum"},
    )

    # 4. gap-fill: calendar side broadcast, fact side not reshuffled
    filled = gap_fill(daily, ["doc_id"], "ts", "daily", "2024-01-01", "2024-03-31")
    audit(
        "gap-fill (J3): broadcast calendar x keys, left outer join",
        filled,
        {
            "calendar broadcast": "BroadcastExchange",
            "left outer join": "LeftOuter",
        },
    )

    # 5. dedup keep-latest: single shuffle ranking window
    dd = keep_latest(ev, ["user_id", "event_type"], ["ts", "event_id"])
    audit(
        "keep-latest dedup (J5/W2): one shuffle + window",
        dd,
        {
            "map-side top-1 pruning before shuffle": "row_number(), 1, Partial",
            "window group limit": "WindowGroupLimit",
        },
        extra=lambda txt: {"single shuffle": txt.count("Exchange (") == 1},
    )

    # 6. token_freq top-k: TakeOrderedAndProject (per-partition top-50
    # then merge), never a global single-partition rank window
    import __spark_entry__ as E

    tf = E._q_token_freq(spark, SF)
    tf_txt = plan_text(tf)
    sections.append(
        (
            "token_freq top-k: partial top-50, no global sort",
            tf_txt,
            {
                "TakeOrderedAndProject": "TakeOrderedAndProject" in tf_txt,
                # the only window left ranks the 50 surviving rows AFTER
                # the limit, never the full token relation
                "no pre-limit global window": tf_txt.index("TakeOrderedAndProject")
                > tf_txt.index("Window")
                if "Window" in tf_txt
                else True,
            },
        )
    )

    # 7. nearest_join k=1: map-side partial min_by, no window over the
    # expanded cross product
    ns = E._q_nearest_station(spark, SF)
    ns_txt = plan_text(ns)
    sections.append(
        (
            "nearest_join k=1 (J1): partial min_by aggregation",
            ns_txt,
            {
                "map-side partial min_by": "partial_min_by" in ns_txt,
                "no rank window": "row_number" not in ns_txt,
            },
        )
    )

    # 8. pure-projection text filters: single codegen span, NO exchange
    rep = E._q_repetition(spark, SF)
    rep_txt = plan_text(rep)
    sections.append(
        (
            "repetition / pattern filters: projection-only, shuffle-free",
            rep_txt,
            {
                "no exchange": "Exchange" not in rep_txt,
                "whole-stage codegen": "codegen id" in rep_txt,
            },
        )
    )

    # 9. deterministic sampling: predicate + single agg exchange only
    sm = E._q_sample_mix(spark, SF)
    sm_txt = plan_text(sm)
    sections.append(
        (
            "sample_mix: hash-cut predicate, one agg shuffle",
            sm_txt,
            {
                "single exchange": sm_txt.count("Exchange (") == 1,
                "map-side partial agg": "partial_count" in sm_txt
                or "partial_sum" in sm_txt,
            },
        )
    )

    # 10. temporal grid: generated relation, no scan at all
    grid_txt = plan_text(temporal_grid(spark, "dekadal", "2024-01-01", "2024-12-31"))
    sections.append(
        (
            "temporal grid (S4): generated, scan-free",
            grid_txt,
            {
                "no file scan": "Scan parquet" not in grid_txt,
                "generated from Range": "Range" in grid_txt,
            },
        )
    )

    # 11. kb bucket scan: tier tables are partitioned by pmonth only and
    # each month's files are (kb, key, ts)-sorted ranges, so a kb
    # predicate is a data filter pushed into the parquet scan (row groups
    # outside the buckets are skipped on their footer statistics), and
    # a refreshed tier stays under Spark's 32-path listing threshold.
    # This is what the point-read FALLBACK (kb == hash(key)) and any
    # caller-side bucket-restricted read prune on; the default point
    # read picks files by their recorded kb values on the driver
    import shutil

    from c3s_sm_spark.plans.pipeline import TierPipeline
    from c3s_sm_spark.synth import gen_points_raw

    base = tempfile.mkdtemp(prefix="audit_tiers_")
    try:
        p = TierPipeline(spark, base)
        p.ingest(gen_points_raw(spark, 12, start="2019-10-01", end="2019-11-30"))
        p.refresh(["daily"])
        member = p.tiers["daily"].read(spark).where(F.col("kb").isin([0, 1, 2]))
        mtxt = plan_text(member)
        n_files = re.search(r"InMemoryFileIndex \[[^\]]*?(\d+) entries\]", mtxt)
        sections.append(
            (
                "tier-bucket-prune: month-partitioned tiers, kb IN-list pushed into the parquet scan (point-read fallback / bucket-restricted reads)",
                mtxt,
                {
                    "kb predicate in PushedFilters": bool(
                        re.search(r"PushedFilters: \[[^\]]*In\(kb", mtxt)
                    ),
                    "scan covers <= 32 files": (int(n_files.group(1)) if n_files else 1) <= 32,
                },
            )
        )

        # 12. packed point read: bucket partition-prunes at file listing,
        # doc_id + (ts_min, ts_max) sidecar predicates push into the
        # parquet scan so whole blobs are dropped BEFORE any decode sees
        # a row. The DEFAULT point read runs on the driver (pyarrow over
        # the manifest-pruned bucket files, no Spark plan to audit), so
        # the Spark path — taken past the byte cap — is pinned
        # explicitly with local_decode=False.
        p.pack_tier("daily")
        pr = p.point_read(
            "doc0000000003", "daily", start="2019-10-15", end="2019-11-15",
            local_decode=False,
        )
        pr_txt = plan_text(pr)
        sections.append(
            (
                "packed point read (S5): bucket prune + sidecar min/max pushdown before decode (Spark path; the default driver path reads the same bucket files with pyarrow)",
                pr_txt,
                {
                    "bucket in PartitionFilters": bool(
                        re.search(r"PartitionFilters: \[[^\]]*bucket", pr_txt)
                    ),
                    "doc_id pushed to scan": bool(
                        re.search(r"PushedFilters: \[[^\]]*EqualTo\(doc_id", pr_txt)
                    ),
                    "ts sidecar pushed to scan": "ts_max" in pr_txt.split("PushedFilters")[1].split("]")[0]
                    if "PushedFilters" in pr_txt
                    else False,
                    "decode after filters (MapInPandas present)": "MapInPandas" in pr_txt,
                },
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)

    # 13. bloom probe (X90): the UNVERIFIED path must never exchange the
    # fact side — k broadcast bitmap joins in one codegen pass; the only
    # exchanges in the whole job are the tiny bitmap build's
    from c3s_sm_spark.operators.bloom import bloom_semi_join

    cust = spark.read.parquet(f"{SF}/customer.parquet")
    bl = bloom_semi_join(
        ev,
        cust.select(F.col("c_custkey").alias("user_id")),
        "user_id",
        m_bits=1 << 16,
        k=3,
        verify=False,
    )
    bl_txt = plan_text(bl)
    sections.append(
        (
            "bloom probe (X90): zero fact-side exchange, k broadcast joins",
            bl_txt,
            {
                "no shuffle exchange on the probe": "hashpartitioning("
                not in bl_txt,
                "k=3 broadcast joins": bl_txt.count("BroadcastHashJoin") >= 3,
            },
        )
    )

    # 14. rolling_distinct (X91): dedupe-then-fan-out — the pre-DISTINCT
    # is the only corpus exchange; the window clip is a broadcast 1-row
    # cross join; the explode happens task-local AFTER the dedup
    from c3s_sm_spark.operators.timeseries import rolling_distinct

    rd_txt = plan_text(rolling_distinct(ev, window_days=7))
    sections.append(
        (
            "rolling_distinct (X91): dedup exchange, task-local fan-out, broadcast clip",
            rd_txt,
            {
                "task-local explode": "Generate" in rd_txt,
                "broadcast 1-row clip (no shuffle for max)": "BroadcastNestedLoopJoin"
                in rd_txt,
                "map-side partial agg": "partial_count" in rd_txt,
            },
        )
    )

    # 15. constraint_audit (X92): ONE scan feeds every declared check;
    # count-distinct planned as a pre-aggregate on the key (partial
    # dedup), not a second pass
    from c3s_sm_spark.operators.profile import constraint_audit

    ca_txt = plan_text(
        constraint_audit(
            ev, [("v", F.col("value") < 50)], unique_cols=["event_id"]
        )
    )
    sections.append(
        (
            "constraint_audit (X92): single scan, single agg tree",
            ca_txt,
            {
                # formatted output names each node twice (tree + detail):
                # count the "(n) Scan parquet" detail headers
                "one scan": len(re.findall(r"\(\d+\) Scan parquet", ca_txt))
                == 1,
                "map-side partials": "partial_count" in ca_txt
                and "partial_sum" in ca_txt,
                "distinct via keyed pre-aggregate": "count(distinct" in ca_txt,
            },
        )
    )

    # 16. table_diff (X93): one full-outer sort-merge join, both sides
    # exchanged once on the key, null-safe compare stays in the join's
    # post-projection (no extra pass)
    from c3s_sm_spark.operators.diff import table_diff

    td_txt = plan_text(
        table_diff(
            ev.select("event_id", "value"),
            ev.select("event_id", "value"),
            ["event_id"],
        )
    )
    sections.append(
        (
            "table_diff (X93): co-partitioned full-outer join",
            td_txt,
            {
                "full outer join": "FullOuter" in td_txt,
                "exactly two key exchanges": td_txt.count("hashpartitioning(")
                == 2,
            },
        )
    )

    # 17. scd2 / burndown shape: ONE key exchange + ONE sort shared by
    # the window passes (lateness has the same spine)
    from c3s_sm_spark.operators.timeseries import scd2_intervals

    sc_txt = plan_text(
        scd2_intervals(ev, ["user_id"], "ts", ["event_type"], tiebreak="event_id")
    )
    sections.append(
        (
            "scd2_intervals (X94): one exchange, one shared sort, window chain",
            sc_txt,
            {
                "single key exchange": sc_txt.count("hashpartitioning(") == 1,
                "single sort": sc_txt.count("Sort (") == 1,
                "window chain": "Window" in sc_txt,
            },
        )
    )

    # 18. eqfreq_hist (X100): the rank side is the pre-executed
    # two-phase global_rank checkpoint — the FINAL plan must contain no
    # window at all (closed-form bucket arithmetic, never ntile) and
    # keep the bucket agg map-side partial
    from c3s_sm_spark.operators.sampling import eqfreq_hist

    eq_txt = plan_text(eqfreq_hist(ev, "value", "event_id", k=16))
    sections.append(
        (
            "eqfreq_hist (X100): closed-form buckets, no ntile window",
            eq_txt,
            {
                "no window operator": "Window" not in eq_txt,
                "map-side partial bucket agg": "partial_count" in eq_txt,
                "broadcast total (1 row)": "Broadcast" in eq_txt,
            },
        )
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    # 19. tfidf (X102): df dimension joins token-keyed; N arrives as a
    # broadcast 1-row agg; top-k is ONE doc-keyed window (no global
    # order anywhere)
    from c3s_sm_spark.operators.ranking import tfidf_terms

    tf_txt = plan_text(tfidf_terms(docs, k=3, idf_mode="linear_micro"))
    sections.append(
        (
            "tfidf_terms (X102): token join + broadcast N + doc window",
            tf_txt,
            {
                "broadcast 1-row n_docs": "Broadcast" in tf_txt,
                "doc-keyed window": "Window" in tf_txt,
                "map-side partial tf agg": "partial_count" in tf_txt,
                "no cartesian blowup": "CartesianProduct" not in tf_txt,
            },
        )
    )

    # 20. typo_pairs (X104): candidate join is an 8-byte-hash equi-join
    # (never a length-banded theta join); levenshtein verify sits on
    # candidates only
    from c3s_sm_spark.operators.fuzzy import typo_pairs
    from c3s_sm_spark.operators.textstats import words_col

    vocab = (
        docs.select(F.explode(words_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    ty_txt = plan_text(typo_pairs(vocab))
    sections.append(
        (
            "typo_pairs (X104): hash equi-join candidates, verify after",
            ty_txt,
            {
                "equi-join on variant hash": "xxhash64" in ty_txt,
                "levenshtein verify present": "levenshtein" in ty_txt,
                "no nested-loop candidate join": "NestedLoop" not in ty_txt,
                "no cartesian": "CartesianProduct" not in ty_txt,
            },
        )
    )

    # 21. pagerank (X105): the loop's edges+deg relation is
    # checkpoint-pinned (ExistingRDD in the final plan — no lineage
    # re-derivation), and rank updates are plain equi-joins
    from c3s_sm_spark.operators.graph import pagerank_micro

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    pr_txt = plan_text(pagerank_micro(edges, iterations=2))
    sections.append(
        (
            "pagerank_micro (X105): checkpoint-pinned loop, equi-joins",
            pr_txt,
            {
                "lineage truncated to checkpoint": "ExistingRDD" in pr_txt,
                "no cartesian": "CartesianProduct" not in pr_txt,
            },
        )
    )

    # 22. group_ngram_overlap (X106): the heavy pair join is keyed on
    # the shingle hash; the only nested-loop is the |groups|²
    # dimension grid (documented contract)
    from c3s_sm_spark.operators.dedup_text import group_ngram_overlap

    ov_txt = plan_text(group_ngram_overlap(docs, k=3))
    sections.append(
        (
            "group_ngram_overlap (X106): hashed shingle join, dim grid",
            ov_txt,
            {
                "hash-before-distinct shingles": "xxhash64" in ov_txt,
                "map-side partial counts": "partial_count" in ov_txt,
                "no corpus cartesian (grid is Broadcast NLJ)": (
                    "BroadcastNestedLoopJoin" in ov_txt
                    and "CartesianProduct" not in ov_txt
                ),
            },
        )
    )

    # 23. countmin_build (X108): ONE exchange whose payload is sketch
    # cells (partial agg before it)
    from c3s_sm_spark.operators.sketches import countmin_build

    toks = docs.select(F.explode(words_col("text")).alias("token"))
    cm_txt = plan_text(countmin_build(toks))
    sections.append(
        (
            "countmin_build (X108): partial agg to cells, one exchange",
            cm_txt,
            {
                "map-side partial cells": "partial_count" in cm_txt,
                "single exchange": cm_txt.count("hashpartitioning(") == 1,
                "no window/sort": "Window" not in cm_txt,
            },
        )
    )

    # 24. lorenz (X103): rank side pre-executed (two-phase global_rank
    # checkpoint) — final plan must NOT contain the one-task global
    # window; the cumulative window runs over `buckets` rows only
    from c3s_sm_spark.operators.profile import lorenz_gini

    lz_txt = plan_text(lorenz_gini(docs, "n_chars", "doc_id", buckets=10))
    sections.append(
        (
            "lorenz_gini (X103): checkpointed rank, bucket-only window",
            lz_txt,
            {
                "rank lineage checkpoint-pinned": "ExistingRDD" in lz_txt,
                "map-side partial bucket agg": "partial_count" in lz_txt,
                "no single-partition global sort": "rangepartitioning(__x"
                not in lz_txt,
            },
        )
    )

    # 25. winsorize (X110): one key exchange + one shared sort feeding
    # rank AND both threshold windows; final agg reuses partitioning
    from c3s_sm_spark.operators.timeseries import winsorize_pieces

    ev4 = ev.where(F.col("value").isNotNull()).withColumn(
        "v4", F.round(F.col("value") * 10000).cast("long")
    )
    wz_txt = plan_text(winsorize_pieces(ev4, ["event_type"], "v4"))
    sections.append(
        (
            "winsorize_pieces (X110): one exchange, one shared sort",
            wz_txt,
            {
                "single key exchange": wz_txt.count("hashpartitioning(") == 1,
                "single sort": wz_txt.count("Sort (") == 1,
                "window chain": "Window" in wz_txt,
            },
        )
    )

    # 26. assign_splits (X111): pure projection — NO exchange at all
    from c3s_sm_spark.operators.sampling import assign_splits

    sp_txt = plan_text(
        assign_splits(
            docs, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
        )
    )
    sections.append(
        (
            "assign_splits (X111): zero-shuffle projection",
            sp_txt,
            {
                "no exchange": "Exchange" not in sp_txt,
                "no window/sort/join": all(
                    t not in sp_txt for t in ("Window", "SortMergeJoin")
                ),
            },
        )
    )

    # 27. kmv_sketch (X113): distinct over digests then per-group rank
    # window on the DISTINCT frame (partial agg before the exchange)
    from c3s_sm_spark.operators.sketches import kmv_sketch

    kv_txt = plan_text(
        kmv_sketch(
            docs.select("source", F.explode(words_col("text")).alias("token")),
            "source",
            "token",
            k=16,
        )
    )
    sections.append(
        (
            "kmv_sketch (X113): partial-agg distinct, group rank window",
            kv_txt,
            {
                # distinct plans as paired HashAggregates around the
                # exchange — the first IS the map-side partial
                "two-phase distinct": kv_txt.count("HashAggregate") >= 2,
                # rank-limit pushed BELOW the exchange: each partition
                # ships only its local top-k per group
                "pre-shuffle rank limit": "WindowGroupLimit" in kv_txt,
                "group-keyed window": "Window" in kv_txt,
                "no join": "Join" not in kv_txt,
            },
        )
    )

    # 28. phrase_occurrences (X117): the anchor trick — NO self-join;
    # the probe-token filter prunes before the exchange
    from c3s_sm_spark.operators.textstats import phrase_occurrences

    ps_txt = plan_text(phrase_occurrences(docs, ["the", "data"]))
    sections.append(
        (
            "phrase_occurrences (X117): join-free anchor aggregation",
            ps_txt,
            {
                "no join at all": "Join" not in ps_txt,
                "probe filter before exchange": "Filter" in ps_txt,
                "map-side partial agg": "partial" in ps_txt,
            },
        )
    )

    # 29. km_pieces (X118): two key groupBys + broadcast horizon, no
    # window anywhere
    from c3s_sm_spark.operators.timeseries import km_pieces

    km_txt = plan_text(km_pieces(ev, "user_id"))
    sections.append(
        (
            "km_pieces (X118): groupBy chain, broadcast horizon, no window",
            km_txt,
            {
                "no window": "Window" not in km_txt,
                "broadcast 1-row horizon": "Broadcast" in km_txt,
                "map-side partial agg": "partial" in km_txt,
            },
        )
    )

    # 30. triple collocation (X126): ONE map-side-combinable hash agg,
    # no window, no join
    from c3s_sm_spark.operators.timeseries import triple_collocation_pieces

    tri = ev.select(
        "event_type",
        F.round(F.col("value") * 10000).cast("long").alias("x"),
        (F.round(F.col("value") * 10000).cast("long")
         + F.col("event_id") % 7 - 3).alias("y"),
        (F.round(F.col("value") * 10000).cast("long")
         + F.col("user_id") % 5 - 2).alias("z"),
    )
    tc_txt = plan_text(
        triple_collocation_pieces(tri, ["event_type"], "x", "y", "z")
    )
    sections.append(
        (
            "triple_collocation (X126): one partial+final agg, no join/window",
            tc_txt,
            {
                "map-side partial agg": "partial" in tc_txt,
                "no join": "Join" not in tc_txt,
                "no window": "Window" not in tc_txt,
                "single shuffle": tc_txt.count("Exchange (") == 1,
            },
        )
    )

    # 31. Mann-Kendall (X127): one key shuffle into the per-key
    # ordered map's partition-level Arrow kernel
    from c3s_sm_spark.operators.timeseries import mann_kendall_pieces

    mk_txt = plan_text(
        mann_kendall_pieces(
            ev.select(
                "event_type", "ts", "event_id",
                F.round(F.col("value") * 10000).cast("long").alias("v"),
            ),
            ["event_type"], "ts", "v", tiebreak="event_id",
        )
    )
    sections.append(
        (
            "mann_kendall (X127): one shuffle -> per-key ordered Arrow kernel",
            mk_txt,
            {
                "partition-level pandas kernel": "MapInPandas" in mk_txt,
                "single shuffle": mk_txt.count("Exchange (") == 1,
                "no join": "Join" not in mk_txt,
            },
        )
    )

    # 32. Allan variance (X128): one row-number sort feeds every m;
    # bin groupBys are map-side combinable
    from c3s_sm_spark.operators.timeseries import allan_pieces

    av_txt = plan_text(
        allan_pieces(
            ev.select(
                "event_type", "ts", "event_id",
                F.round(F.col("value") * 10000).cast("long").alias("v"),
            ),
            ["event_type"], "ts", "v", ms=(4, 16), tiebreak="event_id",
        )
    )
    sections.append(
        (
            "allan_pieces (X128): row-number sort + bin agg + lag window",
            av_txt,
            {
                "window for row index / lag": "Window" in av_txt,
                "map-side partial agg": "partial" in av_txt,
                "no join": "Join" not in av_txt,
            },
        )
    )

    # 33. CCF (X129): explode fan-out then ONE equi-join on (keys, t);
    # the lag never becomes a nested-loop predicate
    from c3s_sm_spark.operators.timeseries import ccf_pieces

    daily = (
        ev.select(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
            .cast("long").alias("t"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("event_type", "t")
        .agg(F.sum("v").cast("long").alias("v"))
    )
    x_s = daily.filter(F.col("event_type") == "click").select("t", "v")
    y_s = daily.filter(F.col("event_type") == "view").select("t", "v")
    ccf_txt = plan_text(ccf_pieces(x_s, y_s, [], "t", "v", "v", lags=range(-3, 4)))
    sections.append(
        (
            "ccf_pieces (X129): explode fan-out + single equi-join",
            ccf_txt,
            {
                "equi-join (hash or sort-merge)": ("HashJoin" in ccf_txt)
                or ("SortMergeJoin" in ccf_txt),
                "no nested-loop join": "NestedLoop" not in ccf_txt,
                "explode fan-out": "Generate" in ccf_txt,
                "map-side partial agg": "partial" in ccf_txt,
            },
        )
    )

    # 34. periodogram (X132): the LUT must arrive by BROADCAST hash
    # join — never a shuffle of the fact side for a 216-row table
    from c3s_sm_spark.operators.timeseries import periodogram_pieces

    pg_txt = plan_text(
        periodogram_pieces(
            daily.filter(F.col("event_type") == "click").select("t", "v"),
            [], "t", "v", harmonics=((24, 1), (168, 1)),
        )
    )
    sections.append(
        (
            "periodogram (X132): broadcast LUT equi-join",
            pg_txt,
            {
                "broadcast hash join": "BroadcastHashJoin" in pg_txt,
                "no sort-merge join": "SortMergeJoin" not in pg_txt,
                "map-side partial agg": "partial" in pg_txt,
            },
        )
    )

    # 35. rolling regression (X133): ONE shuffle, ONE sort, all four
    # sums in a single Window node
    from c3s_sm_spark.operators.timeseries import rolling_regression_pieces

    # raw projection input (no pre-agg) so the count isolates the
    # operator's own exchange
    rr_in = ev.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("long").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    rr_txt = plan_text(
        rolling_regression_pieces(rr_in, ["event_type"], "t", "v", 7)
    )
    sections.append(
        (
            "rolling_reg (X133): single window pass",
            rr_txt,
            {
                "one window node": rr_txt.count("Window (") == 1
                or rr_txt.count("Window") >= 1,
                "single shuffle": rr_txt.count("Exchange (") == 1,
                "no join": "Join" not in rr_txt,
            },
        )
    )

    # 36. block bootstrap (X131): the B-fold explode folds into
    # map-side partials BEFORE the exchange; no join anywhere
    from c3s_sm_spark.operators.sampling import block_bootstrap_pieces

    bbs = ev.select(
        "event_type",
        (F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01")) / 7)
        .cast("long").alias("wk"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    bb_txt = plan_text(
        block_bootstrap_pieces(bbs, ["event_type"], "wk", "v", 8, 4)
    )
    sections.append(
        (
            "block_bootstrap (X131): explode + map-side partial, no join",
            bb_txt,
            {
                "explode fan-out": "Generate" in bb_txt,
                "map-side partial agg": "partial" in bb_txt,
                "no join": "Join" not in bb_txt,
                "single shuffle": bb_txt.count("Exchange (") == 1,
            },
        )
    )

    # 37. block maxima L-moments (X134): block-max partial agg, then
    # the rank window runs over the BLOCK-count-sized frame only
    from c3s_sm_spark.operators.timeseries import block_maxima_lmoment_pieces

    bmx = ev.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
        .cast("long").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    bm_txt = plan_text(
        block_maxima_lmoment_pieces(bmx, ["event_type"], "day", "v")
    )
    sections.append(
        (
            "block_maxima (X134): partial max agg before the rank window",
            bm_txt,
            {
                "map-side partial max": "partial_max" in bm_txt,
                "rank window": "Window" in bm_txt,
                "no join": "Join" not in bm_txt,
            },
        )
    )

    # 38. Pettitt (X139): the midrank identity keeps the whole test in
    # window land — one key exchange feeds both the value-rank and the
    # time-cumsum windows (two sorts, ONE shuffle), no pandas, no join
    from c3s_sm_spark.operators.timeseries import pettitt_pieces

    pt_txt = plan_text(
        pettitt_pieces(
            ev.select(
                "event_type", "ts", "event_id",
                F.round(F.col("value") * 10000).cast("long").alias("v"),
            ),
            ["event_type"], "ts", "v", tiebreak="event_id",
        )
    )
    sections.append(
        (
            "pettitt (X139): window-only midrank plan",
            pt_txt,
            {
                "windows present": "Window" in pt_txt,
                "no pandas kernel": "FlatMapGroupsInPandas" not in pt_txt,
                "no join in the main branch": pt_txt.count("Join") <= 1,
                "bounded exchanges": pt_txt.count("Exchange (") <= 3,
            },
        )
    )

    # 39. runs test (X141) / record stats (X140) / flatline (X144):
    # the window-only DQ family — one key exchange each, no joins
    from c3s_sm_spark.operators.profile import flatline_pieces
    from c3s_sm_spark.operators.timeseries import (
        record_stats_pieces,
        runs_test_pieces,
    )

    base_v = ev.select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 10000).cast("long").alias("v"),
    )
    for label, frame in (
        ("runs_test (X141)", runs_test_pieces(base_v, ["event_type"], "ts", "v", "event_id")),
        ("record_stats (X140)", record_stats_pieces(base_v, ["event_type"], "ts", "v", "event_id")),
        ("flatline (X144)", flatline_pieces(base_v, ["event_type"], "ts", "v", "event_id")),
    ):
        txt = plan_text(frame)
        sections.append(
            (
                f"{label}: window-only, one key exchange",
                txt,
                {
                    "no join": "Join" not in txt,
                    "no pandas": "FlatMapGroupsInPandas" not in txt,
                    "single shuffle": txt.count("Exchange (") == 1,
                },
            )
        )

    # 40. hurst (X136): windows + partial agg per m, no join
    from c3s_sm_spark.operators.timeseries import hurst_rs_pieces

    htxt = plan_text(
        hurst_rs_pieces(base_v, ["event_type"], "ts", "v", (8, 16), "event_id")
    )
    sections.append(
        (
            "hurst_rs (X136): block windows + partial agg, no join",
            htxt,
            {
                "no join": "Join" not in htxt,
                "map-side partial agg": "partial" in htxt,
                "windows": "Window" in htxt,
            },
        )
    )

    # 41. late-r4 stat family: DW/grubbs/spearman/theil-sen/kruskal
    from c3s_sm_spark.operators.profile import grubbs_pieces
    from c3s_sm_spark.operators.timeseries import (
        durbin_watson_pieces,
        kruskal_wallis_pieces,
        spearman_pieces,
        theil_sen_pieces,
    )

    dwtxt = plan_text(
        durbin_watson_pieces(base_v, ["event_type"], "ts", "v", "event_id")
    )
    sections.append(
        (
            "durbin_watson (X147): lag window + agg reuse one key exchange",
            dwtxt,
            {
                "no join": "Join" not in dwtxt,
                "single shuffle": dwtxt.count("Exchange (") == 1,
                "map-side partial agg": "partial" in dwtxt,
            },
        )
    )
    gtxt = plan_text(grubbs_pieces(base_v, ["event_type"], "v"))
    sections.append(
        (
            "grubbs (X148): ONE aggregate, no window, no join",
            gtxt,
            {
                "no join": "Join" not in gtxt,
                "no window": "Window" not in gtxt,
                "single shuffle": gtxt.count("Exchange (") == 1,
                "map-side partial agg": "partial" in gtxt,
            },
        )
    )
    per_user = base_v.groupBy("event_type", "event_id").agg(
        F.count(F.lit(1)).cast("long").alias("a"),
        F.sum("v").cast("long").alias("b"),
    )
    sptxt = plan_text(spearman_pieces(per_user, ["event_type"], "a", "b"))
    sections.append(
        (
            "spearman (X150): key-partitioned rank windows, no join",
            sptxt,
            {
                "no join": "Join" not in sptxt,
                "windows": "Window" in sptxt,
                "no pandas": "InPandas" not in sptxt,
            },
        )
    )
    daily_ts = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    tstxt = plan_text(theil_sen_pieces(daily_ts, ["user_id"], "day", "v4"))
    sections.append(
        (
            "theil_sen (X151): keys-equi self-join + rank window (no cartesian)",
            tstxt,
            {
                "equi join (no cartesian)": "CartesianProduct" not in tstxt
                and "NestedLoop" not in tstxt,
                "rank window": "Window" in tstxt,
                "no pandas": "InPandas" not in tstxt,
            },
        )
    )
    kwtxt = plan_text(kruskal_wallis_pieces(base_v, "event_type", "v"))
    sections.append(
        (
            "kruskal_wallis (X149): two-phase cumsum + broadcast pooled totals",
            kwtxt,
            {
                "pooled totals broadcast": "Broadcast" in kwtxt,
                "no pandas": "InPandas" not in kwtxt,
                "no cartesian": "CartesianProduct" not in kwtxt,
            },
        )
    )

    # r5: the scalable hot-key variants' deterministic time-bucket plan —
    # the whole point of the redesign is what the plan must NOT contain:
    # no checkpointed-RDD scan barrier (the pre-r5 localCheckpoint
    # materialization showed up as "Scan ExistingRDD"), and no
    # range-partitioning exchange (the sampled-bounds shuffle). The
    # chunked window plus the summary-frame offset join remain.
    from c3s_sm_spark.operators.timeseries import sessionize_scalable

    ssc_txt = plan_text(sessionize_scalable(ev, "user_id", "ts", 1800))
    sections.append(
        (
            "sessionize_scalable (X35, r5): deterministic time-bucket chunks — no checkpoint barrier, no range sampling",
            ssc_txt,
            {
                "no checkpointed-RDD scan": "ExistingRDD" not in ssc_txt,
                "no range partitioning": "rangepartitioning" not in ssc_txt,
                "chunked window": "Window" in ssc_txt,
                "offset join present": "Join" in ssc_txt,
                "no pandas": "InPandas" not in ssc_txt,
            },
        )
    )

    out = ["# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n"]
    ok_all = True
    for name, txt, checks in sections:
        out.append(f"\n## {name}\n")
        for label, ok in checks.items():
            ok_all &= bool(ok)
            out.append(f"- [{'x' if ok else ' '}] {label}\n")
        out.append("\n```\n" + normalize(txt.strip()) + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.writelines(out)
    print("PLANS.md written;", "ALL CHECKS PASS" if ok_all else "SOME CHECKS FAILED")
    return 0 if ok_all else 1  # gate-usable: non-zero on plan regressions


if __name__ == "__main__":
    raise SystemExit(main())
