"""Pins for the operators the DuckDB oracle can't express: MinHash-LSH
recall, SimHash determinism, sign-LSH ANN recall, multimodal featurization
exact values, cosine pair correctness vs numpy, and grid-lookup goldens.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from c3s_sm_spark.operators.dedup_text import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from c3s_sm_spark.operators.grid import gpi_cell, gpi_lat, gpi_lon, nearest_gpi
from c3s_sm_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_fake_media,
    extract_features,
)
from c3s_sm_spark.operators.rollup import moving_mean
from c3s_sm_spark.operators.similarity import cosine_pairs, cosine_topk, lsh_ann_topk


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates must recover most exact-Jaccard pairs >= 0.5 and
    never report a verified pair below the verify threshold."""
    exact = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(docs, k=2, threshold=0.5).collect()
    }
    cand = minhash_lsh_candidates(
        docs, k=2, num_hashes=16, bands=8, verify_threshold=0.5
    ).collect()
    got = {(r["a"], r["b"]) for r in cand}
    assert all(r["jaccard"] >= 0.5 for r in cand)  # no false positives kept
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.8, f"recall {recall} over {len(exact)} pairs"


def test_simhash_deterministic_and_discriminative(spark, docs):
    a = {r["doc_id"]: r["simhash64"] for r in simhash(docs).collect()}
    b = {r["doc_id"]: r["simhash64"] for r in simhash(docs).collect()}
    assert a == b  # bit-stable across runs
    # identical texts must collide exactly
    dup = docs.select("doc_id", "text").join(
        docs.select(F.col("doc_id").alias("doc2"), F.col("text").alias("t2")),
        F.col("text") == F.col("t2"),
    ).where(F.col("doc_id") != F.col("doc2")).collect()
    for r in dup:
        assert a[r["doc_id"]] == a[r["doc2"]]


def test_simhash_near_pairs_matches_blocking_contract(spark, docs):
    """simhash_near_pairs' exact contract, pinned (registry-invariant
    pin for the rows-only `simhash_neardup` driver query): emit every
    pair (a < b) that BOTH shares at least one equal 16-bit chunk of the
    64-bit SimHash (the blocking guarantee — complete for Hamming <= 3,
    recall-tuned heuristic beyond) AND has Hamming distance <=
    max_hamming; `hamming` itself must be the exact bit count."""
    from c3s_sm_spark.operators.dedup_text import simhash_near_pairs

    fps = {r["doc_id"]: r["simhash64"] for r in simhash(docs).collect()}

    def chunks_of(h):
        return [(h >> (16 * c)) & 0xFFFF for c in range(4)]

    exp = {}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ca, cb = chunks_of(fps[a]), chunks_of(fps[b])
            if not any(x == y for x, y in zip(ca, cb)):
                continue
            ham = bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")
            if ham <= 8:
                exp[(min(a, b), max(a, b))] = ham
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=8).collect()
    }
    assert got == exp
    assert exp  # the fixture corpus must actually exercise the operator


def test_semdedup_matches_union_find_reference(spark, emb):
    """X186 SemDeDup pinned exactly: same clustering (the deterministic
    cluster_embeddings call), numpy within-cluster pairs at the same
    round(4) >= tau rule, union-find groups, representative = (max
    centroid-cosine, min id). The synthetic embeddings are
    near-orthogonal, so tau=0.4 marks this corpus's near-dup tail."""
    import numpy as np

    from c3s_sm_spark.operators.similarity import (
        cluster_embeddings,
        semdedup,
    )

    tau, K = 0.4, 4
    got = {
        r["vec_id"]: (r["cluster"], r["group"], r["keep"])
        for r in semdedup(emb, threshold=tau, k=K, n_iters=3).collect()
    }
    # reference
    assigned = {
        r["vec_id"]: (r["cluster"], r["cos_sim"])
        for r in cluster_embeddings(emb, k=K, n_iters=3).collect()
    }
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    by_cluster: dict = {}
    for vid, (c, _s) in assigned.items():
        by_cluster.setdefault(c, []).append(vid)
    parent = {v: v for v in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for c, ids in by_cluster.items():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            va = vecs[a] / np.linalg.norm(vecs[a])
            for b in ids[i + 1:]:
                vb = vecs[b] / np.linalg.norm(vecs[b])
                if round(float(va @ vb), 4) >= tau:
                    union(a, b)
    groups: dict = {}
    for v in vecs:
        groups.setdefault(find(v), []).append(v)
    exp = {}
    for g, members in groups.items():
        rep = min(members, key=lambda m: (-assigned[m][1], m))
        for m in members:
            exp[m] = (assigned[m][0], g, m == rep)
    assert got == exp
    # sanity: at least one multi-member group exists and dedup dropped rows
    assert any(len(m) > 1 for m in groups.values())
    kept = sum(1 for _, _, k in got.values() if k)
    assert kept < len(got)
    # the cluster guard raises with measured sizes
    with pytest.raises(ValueError, match="max_cluster_rows"):
        semdedup(emb, threshold=tau, k=2, n_iters=2, max_cluster_rows=3)


def test_ann_lsh_recall_vs_brute_force(spark, emb):
    queries = emb.where(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = lsh_ann_topk(emb, queries, k=5, n_planes=4, n_tables=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall {recall}"  # 8 tables x 4 planes
    # more tables must not lower recall (monotone union of candidates)
    approx16 = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(emb, queries, k=5, n_planes=4, n_tables=16).collect()
    }
    assert len(exact_set & approx16) / len(exact_set) >= recall


def test_ann_lsh_multiprobe_fills_and_recall_monotone(spark, emb):
    """Multi-probe: a sparse config (few tables, many planes) under-fills
    top-k; probing the lowest-margin bit flips must (a) never return
    fewer rows per query, (b) never lower recall, and (c) strictly grow
    the candidate pool in this deliberately-starved setup."""
    queries = emb.where(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}

    def run(p):
        rows = lsh_ann_topk(
            emb, queries, k=5, n_planes=8, n_tables=2, n_probes=p
        ).collect()
        per_q: dict = {}
        for r in rows:
            per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        pairs = {(r["query_id"], r["neighbor_id"]) for r in rows}
        return per_q, pairs

    fill1, pairs1 = run(1)
    fill3, pairs3 = run(3)
    fill6, pairs6 = run(6)
    for qid, n in fill1.items():
        assert fill3.get(qid, 0) >= n
        assert fill6.get(qid, 0) >= fill3.get(qid, 0)
    r1 = len(exact_set & pairs1) / len(exact_set)
    r3 = len(exact_set & pairs3) / len(exact_set)
    r6 = len(exact_set & pairs6) / len(exact_set)
    assert r1 <= r3 <= r6, (r1, r3, r6)
    # 2 tables x 8 planes starves 256-way buckets: probing must help
    assert sum(fill6.values()) > sum(fill1.values())


def test_cosine_pairs_matches_numpy(spark, emb):
    rows = emb.limit(50).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    sub = spark.createDataFrame(rows, emb.schema)
    got = {
        (r["a"], r["b"]): r["cos_sim"]
        for r in cosine_pairs(sub, threshold=0.9).collect()
    }
    exp = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            va, vb = vecs[a], vecs[b]
            c = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 4)
            if c >= 0.9:
                exp[(a, b)] = c
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-9)


def test_multimodal_features_exact(spark, docs):
    media = attach_fake_media(docs.limit(20))
    feats = {r["doc_id"]: r for r in extract_features(media, fake=True).collect()}
    for m in media.collect():
        h = hashlib.sha256(bytes(m["payload"])).digest()
        exp = (
            np.frombuffer(h[: FEATURE_DIM * 2], dtype=np.uint16).astype(np.float64)
            / 65535.0
        )
        got = feats[m["doc_id"]]
        assert got["n_bytes"] == len(bytes(m["payload"]))
        np.testing.assert_array_equal(np.array(got["features"]), exp)


def test_multimodal_real_decode_is_stubbed():
    """Foreign formats (non-RB01/RV01) stay loudly stubbed."""
    from c3s_sm_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x00", fake=False)


def test_multimodal_rb01_real_decode_features(spark, docs):
    """r4 verdict task 7: the RB01 fixture payloads run a REAL numpy
    decode-compute path end-to-end through Spark (fake=False!), and the
    features equal a local reference computed from the same pixels."""
    from c3s_sm_spark.operators.multimodal import (
        attach_bitmap_media,
        bitmap_features,
        decode_bitmap,
        encode_bitmap,
    )

    # codec round-trip is bit-exact and validated
    img = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    np.testing.assert_array_equal(decode_bitmap(encode_bitmap(img)), img)
    with pytest.raises(ValueError, match="not an RB01"):
        decode_bitmap(b"XXXX" + b"\x00" * 10)
    with pytest.raises(ValueError, match="length"):
        decode_bitmap(encode_bitmap(img)[:-1])

    media = attach_bitmap_media(docs.limit(12))
    rows = media.collect()
    assert rows and all(bytes(r["payload"])[:4] == b"RB01" for r in rows)
    feats = {
        r["doc_id"]: r
        for r in extract_features(media, fake=False).collect()
    }
    for m in rows:
        pix = decode_bitmap(bytes(m["payload"]))
        assert pix.shape == (m["height"], m["width"], 3)
        exp = bitmap_features(pix)
        np.testing.assert_array_equal(
            np.array(feats[m["doc_id"]]["features"]), exp
        )


def test_multimodal_rb01_real_resize(spark, docs):
    """Real nearest-neighbor resample: output pixels equal the index-map
    reference, dimensions equal the target, still a valid RB01."""
    from c3s_sm_spark.operators.multimodal import (
        attach_bitmap_media,
        decode_bitmap,
        resize_images,
    )

    media = attach_bitmap_media(docs.limit(8))
    src = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    out = resize_images(media, target_w=20, target_h=12, fake=False)
    for r in out.collect():
        assert (r["width"], r["height"]) == (20, 12)
        got = decode_bitmap(bytes(r["payload"]))
        img = decode_bitmap(src[r["doc_id"]])
        h, w = img.shape[:2]
        yi = (np.arange(12) * h) // 12
        xi = (np.arange(20) * w) // 20
        np.testing.assert_array_equal(got, img[yi][:, xi])


def test_multimodal_rv01_real_frame_sample(spark, docs):
    """Real video container: sampled frames are the exact sliced pixels
    re-encoded as RB01 bitmaps."""
    from c3s_sm_spark.operators.multimodal import (
        attach_video_media,
        decode_bitmap,
        decode_video,
        sample_frames,
    )

    media = attach_video_media(docs.limit(8), side=6, max_frames=30)
    src = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    got: dict = {}
    for r in sample_frames(media, every_n=4, max_frames=5, fake=False).collect():
        got.setdefault(r["doc_id"], {})[r["frame_idx"]] = bytes(
            r["frame_payload"]
        )
    assert set(got) == set(src)
    for d, frames in got.items():
        vid = decode_video(src[d])
        exp_idx = list(range(0, len(vid), 4))[:5]
        assert sorted(frames) == exp_idx
        for i in exp_idx:
            np.testing.assert_array_equal(
                decode_bitmap(frames[i]), vid[i]
            )


def test_grid_golden_gpi(spark):
    """Reference golden: GPI 602942 <-> lon 75.625, lat 14.625
    (/root/reference/tests/test_interface_img.py:124-127)."""
    df = spark.range(1).select(
        nearest_gpi(F.lit(75.625), F.lit(14.625)).alias("gpi")
    )
    gpi = df.head()["gpi"]
    assert gpi == 602942
    back = spark.range(1).select(
        gpi_lon(F.lit(602942)).alias("lon"),
        gpi_lat(F.lit(602942)).alias("lat"),
        gpi_cell(F.lit(602942)).alias("cell"),
    ).head()
    assert back["lon"] == pytest.approx(75.625)
    assert back["lat"] == pytest.approx(14.625)
    # cell: lon 75.625 -> col 51, lat 14.625 -> row 20 -> 20*72+51
    assert back["cell"] == 20 * 72 + 51


def test_moving_mean_golden(spark):
    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, 20.0), ("k", 3, 30.0), ("k", 4, 40.0)],
        "k string, t int, v double",
    )
    out = {
        r["t"]: r["v_smooth"]
        for r in moving_mean(df, ["k"], "t", "v", n_back=2).collect()
    }
    assert out == {1: 10.0, 2: 15.0, 3: 20.0, 4: 30.0}


def test_ann_ivf_recall_and_determinism(spark, emb):
    from c3s_sm_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_index,
        ivf_train_centroids,
    )

    queries = emb.where(F.col("vec_id") < 20)
    cent = ivf_train_centroids(emb, n_lists=8, n_iters=2)
    cent2 = ivf_train_centroids(emb, n_lists=8, n_iters=2)
    assert np.array_equal(cent, cent2)  # seed-fixed training
    # every corpus row lands in exactly one list, all lists in range
    idx = ivf_index(emb, cent)
    lists = idx.groupBy("list_id").count().collect()
    assert sum(r["count"] for r in lists) == emb.count()
    assert all(0 <= r["list_id"] < 8 for r in lists)
    exact = cosine_topk(emb, queries, k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx = ivf_ann_topk(
        emb, queries, k=5, n_lists=8, n_probe=4, centroids=cent
    ).collect()
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall {recall}"  # probing half the lists
    # probing every list == exhaustive == exact (same rounding + ranking)
    full = ivf_ann_topk(
        emb, queries, k=5, n_lists=8, n_probe=8, centroids=cent
    ).collect()
    assert {(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in full} == {
        (r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in exact
    }


def test_ann_ivf_high_dimension(spark):
    """IVF training cost must be dimension-independent (array partial
    sums, not per-dim agg columns): d=256 trains and full-probe equals
    exact brute force."""
    from c3s_sm_spark.operators.similarity import cosine_topk, ivf_ann_topk

    rng = np.random.default_rng(7)
    dim, n = 256, 300
    base = rng.standard_normal((4, dim))
    rows = [
        (
            i,
            (base[i % 4] + 0.3 * rng.standard_normal(dim)).astype(float).tolist(),
        )
        for i in range(n)
    ]
    emb256 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb256.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in cosine_topk(emb256, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"])
        for r in ivf_ann_topk(
            emb256, queries, k=5, n_lists=4, n_probe=4, n_iters=2
        ).collect()
    }
    assert full == exact
    # clustered corpus: probing 1 of 4 lists still finds most neighbors
    part = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(
            emb256, queries, k=5, n_lists=4, n_probe=1, n_iters=2
        ).collect()
    }
    exact_ids = {(q, nbh) for q, nbh, _ in exact}
    assert len(part & exact_ids) / len(exact_ids) >= 0.6


def test_cosine_pairs_blocked_matches_broadcast(spark, emb):
    from c3s_sm_spark.operators.similarity import cosine_pairs, cosine_pairs_blocked

    ref = {
        (r["a"], r["b"], r["cos_sim"])
        for r in cosine_pairs(emb, threshold=0.3).collect()
    }
    assert ref  # non-trivial pair set at this threshold
    for n_blocks in (1, 3, 8):
        got = {
            (r["a"], r["b"], r["cos_sim"])
            for r in cosine_pairs_blocked(emb, threshold=0.3, n_blocks=n_blocks).collect()
        }
        assert got == ref, f"n_blocks={n_blocks}"


def test_cosine_pairs_auto_routes_past_broadcast_cap(spark, emb):
    """Past max_broadcast_rows the call must route to the blocked grid
    (same results), and raise only under strict=True (ADVICE/VERDICT r1)."""
    ref = {
        (r["a"], r["b"], r["cos_sim"])
        for r in cosine_pairs(emb, threshold=0.3).collect()
    }
    routed = {
        (r["a"], r["b"], r["cos_sim"])
        for r in cosine_pairs(emb, threshold=0.3, max_broadcast_rows=100).collect()
    }
    assert routed == ref
    with pytest.raises(ValueError, match="broadcast path caps"):
        cosine_pairs(emb, threshold=0.3, max_broadcast_rows=100, strict=True)


def test_cosine_topk_zero_norm_embedding_is_harmless(spark, emb):
    """A zero embedding must not poison its block's top-k cut (NaN rows
    sort as largest in np.partition) nor appear as a neighbor."""
    zero_row = spark.createDataFrame(
        [(99999, [0.0] * len(emb.select("embedding").first()[0]))],
        emb.select("vec_id", "embedding").schema,
    )
    corpus = emb.select("vec_id", "embedding").unionByName(zero_row)
    queries = emb.where(F.col("vec_id") < 5)
    base = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    with_zero = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in cosine_topk(corpus, queries, k=5).collect()
    }
    assert with_zero == base  # zero vector never outranks a true neighbor


def test_ngram_jaccard_strategies_agree(spark, docs):
    from c3s_sm_spark.operators.dedup_text import ngram_jaccard_pairs

    def rows(strategy):
        return {
            tuple(r)
            for r in ngram_jaccard_pairs(
                docs, k=2, threshold=0.2, strategy=strategy
            ).collect()
        }

    mm = rows("matmul")
    jn = rows("join")
    assert mm and mm == jn
    # matmul must refuse (not silently degrade) past the broadcast budget
    import pytest

    with pytest.raises(ValueError, match="broadcast cells"):
        ngram_jaccard_pairs(
            docs, k=2, threshold=0.2, strategy="matmul", max_broadcast_cells=10
        ).collect()
    # and 'auto' silently falls back to the join plan at the same budget
    auto = {
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, k=2, threshold=0.2, strategy="auto", max_broadcast_cells=10
        ).collect()
    }
    assert auto == jn


def test_cosine_topk_never_returns_self(spark, emb):
    # force many tiny corpus blocks so the query's block has <= k rows:
    # the -inf self mask alone would then leak the self-match back in
    small = emb.where(F.col("vec_id") < 40).repartition(32)
    out = cosine_topk(small, small.where(F.col("vec_id") < 5), k=5).collect()
    assert out
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    assert not any(r["cos_sim"] == 1.0 and r["rank"] == 1 for r in out)


def test_ngram_containment_decontamination(spark, docs):
    from c3s_sm_spark.operators.dedup_text import ngram_containment

    probes = docs.limit(3).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    out = ngram_containment(docs, probes, k=2).collect()
    by_pair = {(r["doc_id"], r["probe_id"]): r for r in out}
    # every probe is fully contained in its own source doc
    for p in probes.collect():
        r = by_pair[(p["probe_id"], p["probe_id"])]
        assert r["containment"] == 1.0
        assert r["contained"] == r["probe_total"] > 0
    # threshold filters
    flagged = ngram_containment(docs, probes, k=2, threshold=1.0).collect()
    assert all(r["containment"] >= 1.0 for r in flagged)
    assert {(r["doc_id"], r["probe_id"]) for r in flagged} >= {
        (p["probe_id"], p["probe_id"]) for p in probes.collect()
    }


def test_multimodal_resize_and_frame_sampling(spark, docs):
    import hashlib

    from c3s_sm_spark.operators.multimodal import (
        attach_fake_media,
        resize_images,
        sample_frames,
    )

    media = attach_fake_media(docs.limit(50))
    resized = resize_images(media, target_w=64, target_h=64).collect()
    assert len(resized) == 50
    src = {r["doc_id"]: r["payload"] for r in media.collect()}
    for r in resized:
        assert (r["width"], r["height"]) == (64, 64)
        exp = hashlib.sha256(bytes(src[r["doc_id"]]) + b"64x64").digest()
        assert bytes(r["payload"]) == exp  # deterministic through Spark
    frames = sample_frames(media, every_n=10, max_frames=8).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert set(by_doc) <= set(src)
    for doc_id, idxs in by_doc.items():
        n_total = (bytes(src[doc_id])[0] % 100) + 1
        assert sorted(idxs) == list(range(0, n_total, 10))[:8]
    # unsupported real path fails loudly, not silently
    import pytest

    with pytest.raises(Exception, match="NotImplementedError|image library"):
        resize_images(media, fake=False).collect()


def test_nearest_join_bucketed_equals_broadcast(spark):
    """The cell-ring equi-join kNN must equal the broadcast plan exactly,
    including keys that need the certified-exactness fallback (sparse
    right side: ring empty or ring winner farther than one cell)."""
    from c3s_sm_spark.operators.grid import nearest_join, nearest_join_bucketed

    rng = np.random.default_rng(11)
    left = spark.createDataFrame(
        [
            (i, float(lo), float(la))
            for i, (lo, la) in enumerate(
                zip(rng.uniform(-179, 179, 400), rng.uniform(-89, 89, 400))
            )
        ],
        "uid long, lon double, lat double",
    )
    # only 12 stations over the globe: most rings are empty -> fallback path
    right = spark.createDataFrame(
        [
            (i, float(lo), float(la))
            for i, (lo, la) in enumerate(
                zip(rng.uniform(-179, 179, 12), rng.uniform(-89, 89, 12))
            )
        ],
        "station_id long, lon double, lat double",
    )
    ref = {
        r["uid"]: (r["nn_id"], r["nn_d2"])
        for r in nearest_join(left, right, ["uid"], k=1).collect()
    }
    got = {
        r["uid"]: (r["nn_id"], r["nn_d2"])
        for r in nearest_join_bucketed(left, right, ["uid"]).collect()
    }
    assert got == ref
    # dense right side: ring certifies nearly everything, still exact
    right2 = spark.createDataFrame(
        [
            (i, float(lo), float(la))
            for i, (lo, la) in enumerate(
                zip(rng.uniform(-179, 179, 3000), rng.uniform(-89, 89, 3000))
            )
        ],
        "station_id long, lon double, lat double",
    )
    ref2 = {
        r["uid"]: (r["nn_id"], r["nn_d2"])
        for r in nearest_join(left, right2, ["uid"], k=1).collect()
    }
    got2 = {
        r["uid"]: (r["nn_id"], r["nn_d2"])
        for r in nearest_join_bucketed(left, right2, ["uid"]).collect()
    }
    assert got2 == ref2


def test_neardup_components_vs_union_find(spark):
    """Label propagation fixpoint == classic union-find, including long
    chains (diameter > 1 forces multiple propagation rounds) and
    cliques; keep_best picks max quality with min-id ties."""
    from c3s_sm_spark.operators.dedup_text import (
        keep_best_per_cluster,
        neardup_components,
    )

    # chain 1-2-3-4-5, clique {10,11,12}, pair (20,21), chain 30-31-32
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
             (20, 21), (31, 30), (31, 32)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    comp = {
        r["node"]: r["component"]
        for r in neardup_components(pairs).collect()
    }
    # both physical strategies must produce identical labels:
    # driver_max_pairs=0 forces the distributed propagation path
    comp_dist = {
        r["node"]: r["component"]
        for r in neardup_components(pairs, driver_max_pairs=0).collect()
    }
    assert comp == comp_dist
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {n: find(n) for n in parent}
    assert comp == exp
    scores = spark.createDataFrame(
        [(n, float(n % 7)) for n in comp], "doc_id long, quality double"
    )
    kept = {
        r["component"]: (r["keep_id"], r["best_score"], r["n_members"])
        for r in keep_best_per_cluster(
            neardup_components(pairs), scores
        ).collect()
    }
    # cluster {1..5}: quality n%7 -> best is 5 (5.0); {10,11,12} -> 12
    # (5.0); {20,21} -> 20 (6.0); {30,31,32} -> 32 (4.0)
    assert kept[1] == (5, 5.0, 5)
    assert kept[10] == (12, 5.0, 3)
    assert kept[20] == (20, 6.0, 2)
    assert kept[30] == (32, 4.0, 3)


def test_neardup_components_long_chain(spark):
    """Diameter-49 chain: plain 20-round propagation would mislabel it
    (ADVICE r2); pointer jumping must converge on BOTH paths."""
    from c3s_sm_spark.operators.dedup_text import neardup_components

    chain = [(i, i + 1) for i in range(100, 150)]
    pairs = spark.createDataFrame(chain, "a long, b long")
    for kw in ({}, {"driver_max_pairs": 0}):
        comp = {
            r["node"]: r["component"]
            for r in neardup_components(pairs, **kw).collect()
        }
        assert set(comp.values()) == {100}
        assert len(comp) == 51


def test_pack_sequences_invariant_and_exact(spark):
    """Two-phase distributed prefix sum == sequential pack, at ANY
    partition count (the offsets adapt to the range bounds)."""
    from c3s_sm_spark.operators.sampling import pack_sequences

    rows = [(i, (i * 37) % 97 + 1) for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tok long")

    def run(n):
        return {
            r["doc_id"]: (r["bin_id"], r["pos_in_bin"])
            for r in pack_sequences(docs, 256, n_partitions=n).collect()
        }

    a, b, c = run(1), run(7), run(32)
    assert a == b == c
    cum, exp = 0, {}
    for i, t in rows:
        exp[i] = (cum // 256, cum % 256)
        cum += t
    assert a == exp


def test_duplication_profile_exact(spark):
    """Hand-computed span sharing: docs 1 and 2 share exactly one 5-gram
    ('a b c d e'); doc 3 shares nothing."""
    from c3s_sm_spark.operators.dedup_text import duplication_profile

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e x"),
            (3, "q w e r t y u"),
        ],
        "doc_id long, text string",
    )
    prof = {
        r["doc_id"]: (r["n_spans"], r["n_shared"], r["dup_fraction"])
        for r in duplication_profile(docs, k=5).collect()
    }
    assert prof[1] == (2, 1, 0.5)
    assert prof[2] == (2, 1, 0.5)
    assert prof[3] == (3, 0, 0.0)


def test_deterministic_sample_properties(spark, docs):
    """Hash sampling: partitioning-invariant row set, ~correct rate,
    disjoint salts give independent samples, strata respect fractions."""
    from c3s_sm_spark.operators.sampling import (
        deterministic_sample,
        stratified_mix,
    )

    a = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(17), "doc_id", 0.3)
        .select("doc_id")
        .collect()
    }
    assert a == b  # identical row set at any parallelism
    n = docs.count()
    assert abs(len(a) / n - 0.3) < 0.08
    # monotone: a smaller fraction is a SUBSET (same hash, lower cut)
    small = {
        r["doc_id"]
        for r in deterministic_sample(docs, "doc_id", 0.1).select("doc_id").collect()
    }
    assert small <= a
    # a different salt draws an ~independent sample
    c = {
        r["doc_id"]
        for r in deterministic_sample(docs, "doc_id", 0.3, salt="v2")
        .select("doc_id")
        .collect()
    }
    assert c != a
    assert abs(len(a & c) / n - 0.09) < 0.06  # ~0.3*0.3 overlap
    # stratified: listed strata sampled, unlisted dropped
    docs2 = docs.withColumn(
        "src", (F.col("doc_id") % 3).cast("string")
    )
    mix = stratified_mix(docs2, "src", {"0": 1.0, "1": 0.2}, "doc_id")
    got = {r["src"]: r["n"] for r in mix.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert "2" not in got
    full = {r["src"]: r["n"] for r in docs2.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert got["0"] == full["0"]
    assert 0.05 < got["1"] / full["1"] < 0.4


def test_dedup_corpus_end_to_end(spark, docs):
    """dedup_corpus keeps exactly one (best-quality) member per near-dup
    cluster and passes unclustered docs through untouched."""
    from c3s_sm_spark.operators.dedup_text import (
        dedup_corpus,
        keep_best_per_cluster,
        minhash_lsh_candidates,
        neardup_components,
    )
    from c3s_sm_spark.operators.textstats import quality_score

    out = dedup_corpus(docs, verify_threshold=0.5)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    pairs = minhash_lsh_candidates(docs, verify_threshold=0.5).select("a", "b")
    comp = {r["node"]: r["component"] for r in neardup_components(pairs).collect()}
    keepers = {
        r["keep_id"]
        for r in keep_best_per_cluster(
            neardup_components(pairs),
            quality_score(docs).select("doc_id", "quality"),
        ).collect()
    }
    clustered = set(comp)
    assert kept == (all_ids - clustered) | keepers
    # exactly one survivor per cluster
    by_comp = {}
    for n, c in comp.items():
        by_comp.setdefault(c, set()).add(n)
    for c, members in by_comp.items():
        assert len(members & kept) == 1


def test_quality_top_fraction_exact_and_sketch(spark, docs):
    """X31: exact per-source selection keeps floor-of-fraction counts
    under a total (score DESC, id) order; the sketch path agrees with
    the exact path up to the sketch's rank error at the boundary."""
    from c3s_sm_spark.operators.sampling import (
        quality_top_fraction,
        quality_top_fraction_sketch,
    )
    from c3s_sm_spark.operators.textstats import quality_score

    q = docs.select("doc_id", "source").join(
        quality_score(docs).select("doc_id", "quality"), "doc_id"
    )
    kept = quality_top_fraction(q, 0.3, by="source").collect()
    per_src = {}
    for r in kept:
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
    full = {
        r["source"]: r["n"]
        for r in q.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # percent_rank < f with total order keeps ceil(f*(n-1)) rows
    import math

    for s, n in full.items():
        assert per_src.get(s, 0) == math.ceil(0.3 * (n - 1))
    # determinism: same rows on a second run
    kept2 = {r["doc_id"] for r in quality_top_fraction(q, 0.3, by="source").collect()}
    assert kept2 == {r["doc_id"] for r in kept}
    # the kept set is the TOP of each source: every kept row's quality
    # >= every dropped row's quality within the source (ties broken by id)
    rows = q.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["quality"], r["doc_id"]))
    kept_ids = kept2
    for s, lst in by_src.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        k = per_src.get(s, 0)
        assert {d for _, d in lst[:k]} == {d for _, d in lst if d in kept_ids}
    # sketch path: per-source counts within a small boundary tolerance
    sk = quality_top_fraction_sketch(q, 0.3, by="source").collect()
    sk_src = {}
    for r in sk:
        sk_src[r["source"]] = sk_src.get(r["source"], 0) + 1
    for s, n in full.items():
        assert abs(sk_src.get(s, 0) - per_src.get(s, 0)) <= max(2, int(0.05 * n))


def test_temperature_mix_properties(spark, docs):
    """X32: deterministic row set; per-source keep-rate decreases with
    source size (the whole point of alpha<1 sampling); total kept close
    to the budget; alpha=1 degrades to uniform budget_frac sampling."""
    from c3s_sm_spark.operators.sampling import temperature_mix

    # skew the sources: fold most into one mega-source
    skewed = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 10 < 7, F.lit("big")).otherwise(
            F.concat(F.lit("small"), (F.col("doc_id") % 3).cast("string"))
        ),
    )
    out = temperature_mix(skewed, alpha=0.5, budget_frac=0.5)
    again = temperature_mix(skewed, alpha=0.5, budget_frac=0.5)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert ids == {r["doc_id"] for r in again.select("doc_id").collect()}
    full = {
        r["source"]: r["n"]
        for r in skewed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    kept = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    rate = {s: kept.get(s, 0) / n for s, n in full.items()}
    # alpha < 1 upsamples small sources relative to the big one
    assert all(rate[s] > rate["big"] for s in full if s != "big")
    # budget: md5-cut quantization + hash noise stay within ~15%
    total_kept = sum(kept.values())
    assert abs(total_kept - 0.5 * sum(full.values())) < 0.15 * sum(full.values())
    # alpha=1: p_s = n_s/N, so every source's fraction == budget_frac
    flat = temperature_mix(skewed, alpha=1.0, budget_frac=0.5)
    kept1 = {
        r["source"]: r["n"]
        for r in flat.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for s, n in full.items():
        assert abs(kept1.get(s, 0) / n - 0.5) < 0.15


def test_profile_table_exact_and_sketch(spark):
    """X33: one-pass profile matches hand-computed stats incl. nulls and
    type routing; the HLL variant approximates distinct counts."""
    from c3s_sm_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, "a", 1.5, "2024-01-02 03:04:05"),
            (2, "b", None, "2024-01-01 00:00:00"),
            (3, None, 2.5, None),
            (3, "a", 2.5, "2024-03-01 12:00:00"),
        ],
        "id long, s string, v double, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    prof = {r["col_name"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "s", "v", "ts"}
    assert all(r["n_rows"] == 4 for r in prof.values())
    assert (prof["id"]["n_null"], prof["id"]["n_distinct"]) == (0, 3)
    assert (prof["id"]["min_num"], prof["id"]["max_num"]) == (1.0, 3.0)
    assert prof["id"]["min_str"] is None
    assert (prof["s"]["n_null"], prof["s"]["n_distinct"]) == (1, 2)
    assert (prof["s"]["min_str"], prof["s"]["max_str"]) == ("a", "b")
    assert prof["s"]["min_num"] is None
    assert (prof["v"]["n_null"], prof["v"]["n_distinct"]) == (1, 2)
    assert (prof["v"]["min_num"], prof["v"]["max_num"]) == (1.5, 2.5)
    assert prof["ts"]["n_null"] == 1
    assert prof["ts"]["min_str"] == "2024-01-01 00:00:00"
    assert prof["ts"]["max_str"] == "2024-03-01 12:00:00"
    # one aggregate job: the plan has exactly one Expand (the shared
    # multi-count-distinct pass), no per-column scan fan-out
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") <= 1 and plan.count("Scan") <= 1
    # sketch mode: distinct counts within HLL error of exact
    sk = {r["col_name"]: r for r in profile_table(df, exact_distinct=False).collect()}
    for c in prof:
        assert abs(sk[c]["n_distinct"] - prof[c]["n_distinct"]) <= 1


def test_quality_top_fraction_one_keeps_everything(spark):
    """fraction=1.0 must keep ALL rows: the worst row's percent_rank is
    exactly 1.0 and the strict < used to delete one row per stratum."""
    from c3s_sm_spark.operators.sampling import (
        quality_top_fraction,
        quality_top_fraction_sketch,
    )

    df = spark.createDataFrame(
        [("a", f"d{i}", float(i)) for i in range(5)]
        + [("b", f"e{i}", float(i)) for i in range(3)],
        ["source", "doc_id", "quality"],
    )
    assert quality_top_fraction(df, 1.0).count() == 8
    assert quality_top_fraction_sketch(df, 1.0).count() == 8


def test_temperature_mix_rejects_null_stratum(spark):
    """A NULL source is not a stratum: it used to TypeError inside the
    driver-side cut walk (and would otherwise silently drop rows while
    inflating the budget denominator)."""
    import pytest as _pytest

    from c3s_sm_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [("s1", "d1", 10), (None, "d2", 10)], ["source", "doc_id", "n_tok"]
    )
    with _pytest.raises(ValueError, match="null"):
        temperature_mix(df, alpha=0.5, budget_frac=0.5)


def test_ivf_zero_embedding_does_not_poison_assignment(spark):
    """A zero vector (empty doc) in the corpus must not NaN a centroid
    column and route EVERY vector to one list via argmax-over-NaN."""
    import numpy as np

    from c3s_sm_spark.operators.similarity import ivf_index

    rows = [("z", [0.0, 0.0, 0.0])] + [
        (f"d{i}", [float(i == j) for j in range(3)]) for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "embedding"])
    cents = np.array([[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    got = {r["doc_id"]: r["list_id"] for r in ivf_index(df, cents).collect()}
    # the unit vectors must NOT all collapse onto one list
    assert len({got["d0"], got["d1"]}) == 2


def test_vocab_growth_hand_corpus(spark):
    """First-sighting credit, empty-doc handling and the running Heaps
    pairs, pinned on a corpus small enough to verify by eye."""
    from c3s_sm_spark.operators.textstats import vocab_growth

    rows = [
        (0, "the cat sat"),
        (1, "the   dog"),          # "the" already seen; collapse spaces
        (2, "   "),                # whitespace-only: contributes nothing
        (3, "cat and dog and cat"),
        (5, "new words here"),
        (9, ""),                   # empty bucket 4 must not appear
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["bucket"]: r
        for r in vocab_growth(df, bucket_size=2).collect()
    }
    # bucket 0: docs 0,1 -> tokens the,cat,sat,dog (4 new, 5 occurrences)
    # bucket 1: docs 2,3 -> new "and" (2 occurrences of it; 5 tokens)
    # bucket 2: doc 5 -> 3 new; bucket 4 (doc 9) empty -> absent
    assert set(got) == {0, 1, 2}
    assert (got[0]["n_new_tokens"], got[0]["n_tokens"]) == (4, 5)
    assert (got[1]["n_new_tokens"], got[1]["n_tokens"]) == (1, 5)
    assert (got[2]["n_new_tokens"], got[2]["n_tokens"]) == (3, 3)
    assert [got[b]["vocab_size"] for b in (0, 1, 2)] == [4, 5, 8]
    assert [got[b]["cum_tokens"] for b in (0, 1, 2)] == [5, 10, 13]


def test_vocab_growth_matches_bruteforce(spark, docs):
    """On real sf documents: running vocab equals the brute-force
    cumulative distinct, and the final vocab_size equals the corpus-wide
    distinct token count (bucketing must not change the total)."""
    from c3s_sm_spark.operators.textstats import vocab_growth, words_col

    got = sorted(
        vocab_growth(docs, bucket_size=25).collect(),
        key=lambda r: r["bucket"],
    )
    pdf = docs.select("doc_id", words_col("text").alias("ws")).toPandas()
    seen: set[str] = set()
    expect = {}
    for b in sorted({d // 25 for d in pdf["doc_id"]}):
        chunk = pdf[pdf["doc_id"] // 25 == b]
        toks = [t for ws in chunk["ws"] for t in ws]
        if not toks:
            continue
        before = len(seen)
        seen.update(toks)
        expect[b] = (len(seen) - before, len(seen), len(toks))
    assert [(r["bucket"], r["n_new_tokens"], r["vocab_size"], r["n_tokens"])
            for r in got] == [
        (b, e[0], e[1], e[2]) for b, e in sorted(expect.items())
    ]
    n_distinct = docs.select(
        F.explode(words_col("text")).alias("t")
    ).distinct().count()
    assert got[-1]["vocab_size"] == n_distinct


def test_vocab_growth_rejects_bad_bucket(spark):
    from c3s_sm_spark.operators.textstats import vocab_growth

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bucket_size"):
        vocab_growth(df, bucket_size=0)


def test_characteristic_terms_hand_corpus(spark):
    """Exact integer tf*(N//df) ranking with token-text tiebreak,
    verified against a corpus computed by hand."""
    from c3s_sm_spark.operators.textstats import characteristic_terms

    rows = [
        (0, "apple apple banana common"),
        (1, "banana cherry common"),
        (2, "common cherry"),
        (3, "   "),  # empty doc: excluded from N and emits no terms
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["rn"]): (r["tok"], r["tf"], r["df"], r["weight"])
        for r in characteristic_terms(df, k=2).collect()
    }
    # N=3. df: apple 1, banana 2, cherry 2, common 3.
    # doc 0: apple tf2*(3//1=3)=6 > banana 1*(3//2=1)=1 = common 1*1=1
    #        -> banana beats common on token text
    assert got[(0, 1)] == ("apple", 2, 1, 6)
    assert got[(0, 2)] == ("banana", 1, 2, 1)
    # doc 2: cherry 1*1=1, common 1*1=1 -> cherry first alphabetically
    assert got[(2, 1)] == ("cherry", 1, 2, 1)
    assert got[(2, 2)] == ("common", 1, 3, 1)
    assert not any(d == 3 for d, _ in got)


def test_vocab_growth_approx_tracks_exact(spark, docs):
    """The HLL curve must be within sketch error of the exact curve,
    share its exact token totals, and be monotone non-decreasing."""
    from c3s_sm_spark.operators.textstats import (
        vocab_growth,
        vocab_growth_approx,
    )

    exact = {
        r["bucket"]: r for r in vocab_growth(docs, bucket_size=50).collect()
    }
    approx = sorted(
        vocab_growth_approx(docs, bucket_size=50, lg_k=12).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in approx] == sorted(exact)
    prev = 0
    for r in approx:
        e = exact[r["bucket"]]
        assert r["n_tokens"] == e["n_tokens"]
        assert r["cum_tokens"] == e["cum_tokens"]
        assert r["vocab_est"] == pytest.approx(e["vocab_size"], rel=0.05)
        assert r["vocab_est"] >= prev  # union over a superset of buckets
        prev = r["vocab_est"]


def test_source_divergence_hand_corpus(spark):
    """Cross-term scoring |c_a*n_b - c_b*n_a|, one-source tokens at the
    top, tie order by token text."""
    from c3s_sm_spark.operators.textstats import source_divergence

    rows = [
        (0, "x x x shared", "a"),
        (1, "shared shared", "a"),
        (2, "y shared", "b"),
        (3, "shared z", "b"),
        (4, "noise", "c"),  # other sources excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [
        (r["tok"], r["c_a"], r["c_b"], r["score"], r["rn"])
        for r in source_divergence(df, "a", "b", top_n=10).collect()
    ]
    # n_a=6, n_b=4. x: |3*4-0|=12; y,z: |0-1*6|=6;
    # shared: c_a=3 (doc1 has it twice), c_b=2 -> |3*4-2*6|=0
    assert got[0] == ("x", 3, 0, 12, 1)
    assert [g[0] for g in got[1:]] == ["y", "z", "shared"]
    assert [g[3] for g in got[1:]] == [6, 6, 0]
    assert [g[4] for g in got] == [1, 2, 3, 4]
    assert all(g[0] != "noise" for g in got)


def test_source_divergence_top_n_cut_is_deterministic(spark, docs):
    """The top_n boundary must be stable: re-running with a larger n and
    truncating gives the same head."""
    from c3s_sm_spark.operators.textstats import source_divergence

    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    a, b = sorted(srcs)[:2]
    small = [
        (r["tok"], r["score"], r["rn"])
        for r in source_divergence(docs, a, b, top_n=10).collect()
    ]
    big = [
        (r["tok"], r["score"], r["rn"])
        for r in source_divergence(docs, a, b, top_n=40).collect()
    ]
    assert small == big[:10]


def test_vocab_growth_excludes_null_order_rows(spark):
    """NULL order_col rows are excluded up front — otherwise a token
    seen only in a NULL-bucket doc is credited to no bucket and the
    running vocab_size silently undercounts."""
    from c3s_sm_spark.operators.textstats import (
        vocab_growth,
        vocab_growth_approx,
    )

    rows = [(0, "alpha beta"), (None, "alpha ghost"), (2, "alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["bucket"]: r for r in vocab_growth(df, bucket_size=2).collect()}
    assert set(got) == {0, 1}
    # 'ghost' lives only in the NULL row: contributes nowhere
    assert got[1]["vocab_size"] == 2
    assert got[0]["n_tokens"] == 2  # NULL row's tokens not counted either
    approx = {
        r["bucket"]: r
        for r in vocab_growth_approx(df, bucket_size=2).collect()
    }
    assert set(approx) == {0, 1}
    assert all(r["vocab_est"] is not None for r in approx.values())


def test_chunk_documents_windows_and_overlap(spark):
    """Hand-checked 3-token windows with stride 2: overlap, partial
    tail, single-token doc, empty doc."""
    from c3s_sm_spark.operators.textstats import chunk_documents

    rows = [(0, "a b c d e f g"), (1, "x"), (2, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_documents(df, chunk_tokens=3, stride=2).collect()
    }
    texts = {k: v["chunk_text"] for k, v in got.items()}
    assert texts == {
        (0, 0): "a b c",
        (0, 1): "c d e",
        (0, 2): "e f g",
        (0, 3): "g",
        (1, 0): "x",
    }
    assert got[(0, 3)]["n_tokens"] == 1
    assert got[(0, 2)]["start_tok"] == 5
    assert not any(d == 2 for d, _ in got)


def test_chunk_documents_nonoverlapping_reconstructs(spark, docs):
    """stride == chunk_tokens: chunks partition the token stream — the
    in-order concatenation equals the normalized text and token counts
    add back up."""
    from c3s_sm_spark.operators.textstats import chunk_documents, words_col

    sub = docs.limit(40)
    out = chunk_documents(sub, chunk_tokens=64).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    norm = {
        r["doc_id"]: (r["joined"], r["n"])
        for r in sub.select(
            "doc_id",
            F.array_join(words_col("text"), " ").alias("joined"),
            F.size(words_col("text")).alias("n"),
        ).collect()
    }
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert " ".join(c["chunk_text"] for c in chunks) == norm[doc_id][0]
        assert sum(c["n_tokens"] for c in chunks) == norm[doc_id][1]
        assert [c["start_tok"] for c in chunks] == [
            1 + 64 * i for i in range(len(chunks))
        ]
    # every non-empty doc chunked
    assert set(by_doc) == {d for d, (_, n) in norm.items() if n > 0}


def test_chunk_documents_rejects_bad_params(spark):
    from c3s_sm_spark.operators.textstats import chunk_documents

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, chunk_tokens=4, stride=0)


def test_vocab_growth_hashed_keys_match_exact(spark, docs):
    """The 128-bit-hash shuffle key (hash_tokens=True) must reproduce
    the exact-string curve bit-for-bit on a collision-free corpus."""
    from c3s_sm_spark.operators.textstats import vocab_growth

    plain = sorted(
        (r["bucket"], r["n_new_tokens"], r["vocab_size"], r["n_tokens"],
         r["cum_tokens"])
        for r in vocab_growth(docs, bucket_size=50).collect()
    )
    hashed = sorted(
        (r["bucket"], r["n_new_tokens"], r["vocab_size"], r["n_tokens"],
         r["cum_tokens"])
        for r in vocab_growth(docs, bucket_size=50, hash_tokens=True).collect()
    )
    assert plain == hashed


def test_weighted_sample_invariants(spark):
    """A-ES weighted sampling: deterministic, partition-invariant,
    exact at n >= rows, zero/null weights excluded, and inclusion
    frequency tracks weight across (fixed, reproducible) salts."""
    from c3s_sm_spark.operators.sampling import weighted_sample

    rows = [(f"d{i:02d}", 10.0 if i == 0 else 1.0) for i in range(10)]
    # NaN would pass `> 0` and sort ABOVE every real score without the
    # explicit isnan guard — it must be excluded like null/zero
    rows += [("dnull", None), ("dzero", 0.0), ("dnan", float("nan"))]
    df = spark.createDataFrame(rows, "doc_id string, wgt double")

    # exactness + exclusion: n >= eligible rows keeps all positive-weight
    full = weighted_sample(df, n=100, weight_col="wgt")
    got_ids = {r["doc_id"] for r in full.collect()}
    assert got_ids == {f"d{i:02d}" for i in range(10)}
    assert {r["sample_rank"] for r in full.collect()} == set(range(1, 11))

    # determinism + partition invariance
    a = [(r["doc_id"], r["sample_rank"])
         for r in weighted_sample(df, 3, "wgt", salt="s").collect()]
    b = [(r["doc_id"], r["sample_rank"])
         for r in weighted_sample(df.repartition(7), 3, "wgt", salt="s").collect()]
    assert sorted(a) == sorted(b) and len(a) == 3

    # proportionality: d00 carries 10/19 of the mass; over 40 fixed
    # salts its top-1 frequency must sit far above a uniform 1/10 and
    # below certainty (fully deterministic band — never flakes)
    wins = 0
    for s in range(40):
        [r] = weighted_sample(df, 1, "wgt", salt=f"p{s}").collect()
        wins += r["doc_id"] == "d00"
    assert 0.30 <= wins / 40 <= 0.80, wins


def test_bpe_token_stats_golden_and_empty(spark):
    from c3s_sm_spark.operators.textstats import bpe_token_stats

    rows = [(0, "Hello, world42 a-b  c"), (1, ""), (2, "   "), (3, "2024!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bpe_token_stats(df).collect()}
    # Hello , world 4 2 a - b c  -> 9 bpe over 4 words
    assert (got[0]["n_bpe_tokens"], got[0]["n_ws_tokens"]) == (9, 4)
    assert got[0]["fertility"] == 2.25
    assert (got[1]["n_bpe_tokens"], got[1]["fertility"]) == (0, None)
    assert got[2]["n_bpe_tokens"] == 0
    # 2 0 2 4 !  -> digits split individually
    assert got[3]["n_bpe_tokens"] == 5


def test_winnow_guarantee_and_robustness(spark):
    """The winnowing guarantee: any shared run of >= w+k-1 tokens
    shares a fingerprint; edits OUTSIDE the run don't break it; docs
    shorter than k emit nothing; selection is a small subset."""
    from c3s_sm_spark.operators.textstats import (
        winnow_fingerprints,
        winnow_overlap,
    )

    shared = "one two three four five six seven eight"  # 8 tokens >= w+k-1=6
    rows = [
        (0, "intro text then " + shared + " and a closing remark"),
        (1, "totally different head " + shared + " unrelated tail words"),
        (2, "no overlap here at all just noise tokens everywhere"),
        (3, "xy"),  # 1 token < k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=3, w=4)
    by_doc: dict = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert 3 not in by_doc  # too short
    assert by_doc[0] & by_doc[1]  # guarantee: shared run -> shared fp
    # winnowing keeps a strict subset of shingles (~2/(w+1))
    n_shingles_0 = len(rows[0][1].split()) - 2
    assert 0 < len(by_doc[0]) < n_shingles_0
    pairs = {
        (r["a"], r["b"]): r["n_shared"]
        for r in winnow_overlap(df, k=3, w=4, min_shared=1).collect()
    }
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


def test_winnow_short_doc_single_window(spark):
    """k <= tokens < k+w-1: exactly one fingerprint (the global min)."""
    from c3s_sm_spark.operators.textstats import winnow_fingerprints

    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    # 4 tokens, k=3 -> 2 shingles < w=4 -> single window min
    assert winnow_fingerprints(df, k=3, w=4).count() == 1


def test_strip_duplicate_spans_hand_corpus(spark):
    """Lee-et-al-style span removal: corpus-repeated k-shingles mark
    their positions in EVERY occurrence; unique text survives; short
    and fully-boilerplate docs behave."""
    from c3s_sm_spark.operators.dedup_text import strip_duplicate_spans

    boiler = "click here to subscribe"
    rows = [
        (0, f"real content one {boiler} more real text"),
        (1, f"{boiler} totally different body"),
        (2, "unique document nothing shared"),
        (3, boiler),              # fully boilerplate -> everything removed
        (4, "xy"),                # shorter than k: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in strip_duplicate_spans(df, k=4).collect()}
    # the 4-token boilerplate occurs 3x >= min_count=2: removed everywhere
    assert got[0]["clean_text"] == "real content one more real text"
    assert got[0]["n_removed"] == 4
    assert got[1]["clean_text"] == "totally different body"
    assert got[2]["clean_text"] == "unique document nothing shared"
    assert got[2]["n_removed"] == 0
    assert got[3]["clean_text"] == "" and got[3]["n_removed"] == 4
    assert got[4]["clean_text"] == "xy" and got[4]["n_removed"] == 0
    # token conservation
    for r in got.values():
        kept = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert kept + r["n_removed"] == r["n_tokens"]


def test_strip_duplicate_spans_hashed_matches_plain(spark, docs):
    """The 8-byte-hash shuffle key reproduces the string-key result."""
    from c3s_sm_spark.operators.dedup_text import strip_duplicate_spans

    plain = sorted(
        (r["doc_id"], r["n_removed"], r["clean_text"])
        for r in strip_duplicate_spans(docs, k=3).collect()
    )
    hashed = sorted(
        (r["doc_id"], r["n_removed"], r["clean_text"])
        for r in strip_duplicate_spans(docs, k=3, hash_shingles=True).collect()
    )
    assert plain == hashed
    assert len(plain) > 0


def test_strip_duplicate_spans_property_vs_bruteforce(spark):
    """Hypothesis sweep: random tiny corpora vs a brute-force Python
    reimplementation of the span-removal contract."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from c3s_sm_spark.operators.dedup_text import strip_duplicate_spans

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    corpus_st = st.lists(
        st.lists(word, min_size=0, max_size=8).map(" ".join),
        min_size=1, max_size=8,
    )

    def brute(texts, k, min_count):
        toks = [t.split() if t.strip() else [] for t in texts]
        from collections import Counter
        c = Counter()
        for ws in toks:
            for i in range(len(ws) - k + 1):
                c[" ".join(ws[i:i + k])] += 1
        out = {}
        for d, ws in enumerate(toks):
            if not ws:
                continue
            dup = [False] * len(ws)
            for i in range(len(ws) - k + 1):
                if c[" ".join(ws[i:i + k])] >= min_count:
                    for j in range(i, i + k):
                        dup[j] = True
            out[d] = (
                len(ws),
                sum(dup),
                " ".join(w for w, m in zip(ws, dup) if not m),
            )
        return out

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(texts=corpus_st, k=st.integers(1, 3).map(lambda x: x + 1))
    def check(texts, k):
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
            for r in strip_duplicate_spans(df, k=k, min_count=2).collect()
        }
        assert got == brute(texts, k, 2)

    check()


def test_materialize_bins_streams_and_separators(spark):
    """Pack assignments -> actual token streams: in-bin order follows
    pos_in_bin, token counts reconcile, separators sit exactly between
    documents (n_docs - 1 of them), and the stream is identical at any
    parallelism."""
    from c3s_sm_spark.operators.sampling import (
        materialize_bins,
        pack_sequences,
    )

    rows = [
        (f"d{i:02d}", list(range(i * 10, i * 10 + 3 + i % 4)))
        for i in range(12)
    ]
    seqs = spark.createDataFrame(
        [(d, t, len(t)) for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int",
    )
    packed = pack_sequences(seqs, budget=10, token_col="n_tok")
    out = {
        r["bin_id"]: r
        for r in materialize_bins(seqs, packed, sep_token=-1).collect()
    }
    toks = dict(rows)
    assign: dict = {}
    for r in packed.collect():
        assign.setdefault(r["bin_id"], []).append(
            (r["pos_in_bin"], r["doc_id"])
        )
    for b, members in assign.items():
        members.sort()
        expect = []
        for _, d in members:
            expect.extend(toks[d] + [-1])
        expect = expect[:-1]
        assert list(out[b]["tokens"]) == expect
        assert out[b]["n_docs"] == len(members)
        assert out[b]["n_tokens"] == sum(len(toks[d]) for _, d in members)
    # no separators: plain concatenation, same totals
    plain = materialize_bins(seqs, packed).collect()
    assert all(r["n_tokens"] == len(r["tokens"]) for r in plain)
    # partition invariance
    re = {
        r["bin_id"]: list(r["tokens"])
        for r in materialize_bins(
            seqs.repartition(7), packed.repartition(5), sep_token=-1
        ).collect()
    }
    assert re == {b: list(r["tokens"]) for b, r in out.items()}


def test_redact_pii_masks_and_counts(spark):
    """Typed masking of emails, URLs, long digit runs; counting matches
    masking; email-before-URL order; short numbers untouched."""
    from c3s_sm_spark.operators.textstats import redact_pii

    rows = [
        (0, "mail me at bob.smith+x@corp.example.com or visit "
            "https://ex.com/a?b=1 ref 12345678 done"),
        (1, "call 555 1234 room 42"),   # short digit runs: untouched
        (2, "https://u@host.com/path"),  # URL with userinfo: one URL
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[0]["text_redacted"] == (
        "mail me at <EMAIL> or visit <URL> ref <NUM> done"
    )
    assert got[0]["n_redactions"] == 3
    assert got[1]["text_redacted"] == "call 555 1234 room 42"
    assert got[1]["n_redactions"] == 0
    # email masking runs first, so the userinfo URL stays ONE token
    assert got[2]["n_redactions"] >= 1 and "host.com" not in got[2][
        "text_redacted"
    ].replace("<EMAIL>", "").replace("<URL>", "")
    assert got[3]["text_redacted"] == "" and got[3]["n_redactions"] == 0


def test_pack_sequences_strict_invariants_and_reference(spark):
    """Strict packer: bins NEVER exceed the budget, every doc packed
    exactly once, bit-identical across parallelism, equal to a Python
    reference of the exact contract (prefix grouping + per-group
    next-fit), and loud failure on oversized docs."""
    from c3s_sm_spark.operators.sampling import pack_sequences_strict

    sizes = [3, 7, 2, 9, 10, 1, 1, 8, 5, 6, 4, 10, 2, 3, 9, 7, 1, 5]
    rows = [(f"d{i:02d}", s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")

    def reference(budget, group_tokens):
        cum, out, binc = 0, {}, 0
        cur_g, lb, fill, first = None, 0, 0, True
        for d, s in rows:  # id order
            g = cum // group_tokens
            cum += s
            if g != cur_g:
                if not first:
                    binc += lb + 1
                cur_g, lb, fill, first = g, 0, 0, False
                out[d] = (binc, 0)
                fill = s
                continue
            if fill + s > budget:
                lb += 1
                fill = 0
            out[d] = (binc + lb, fill)
            fill += s
        return out

    for budget, gt in ((10, 30), (16, 64)):
        want = reference(budget, gt)
        for n in (2, 5, 9):
            got = {
                r["doc_id"]: (r["bin_id"], r["pos_in_bin"])
                for r in pack_sequences_strict(
                    df, budget=budget, group_tokens=gt, n_partitions=n
                ).collect()
            }
            assert got == want, (budget, gt, n)
        # strict invariant straight off the output
        per_bin: dict = {}
        for d, (b, p) in want.items():
            per_bin.setdefault(b, 0)
            per_bin[b] += dict(rows)[d]
        assert all(v <= budget for v in per_bin.values())

    import pytest as _pt

    big = spark.createDataFrame([("x", 99)], "doc_id string, n_tok int")
    with _pt.raises(Exception, match="strict bin budget"):
        pack_sequences_strict(big, budget=10).collect()


def test_oov_stats_brute_force(spark):
    """OOV counts vs a Python reference with the same (count DESC,
    token ASC) vocabulary order, including a tie at the boundary rank
    and an empty doc (dropped: no tokens)."""
    docs = [
        (1, "a a a b b c"),
        (2, "b c d d"),
        (3, "e e a"),
        (4, "   "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from collections import Counter

    from c3s_sm_spark.operators.textstats import oov_stats

    toks = {d: t.split() for d, t in docs if t.strip()}
    cnt = Counter(w for ws in toks.values() for w in ws)
    for v in (1, 2, 3, 5, 99):
        vocab = {
            w for w, _ in sorted(cnt.items(), key=lambda x: (-x[1], x[0]))[:v]
        }
        want = {
            d: (len(ws), sum(1 for w in ws if w not in vocab))
            for d, ws in toks.items()
        }
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_oov"])
            for r in oov_stats(df, vocab_size=v).collect()
        }
        assert got == want, v
    with pytest.raises(ValueError, match="vocab_size"):
        oov_stats(df, vocab_size=0)


def test_bigram_pmi_pieces_brute_force(spark):
    """Pair counts + slot marginals vs a Python reference; the marginal
    identity sum(left_cnt over distinct w1) == n_pairs; min_count
    filters pairs but not the marginal mass."""
    from collections import Counter

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran"),
        (3, "a cat sat"),
        (4, "x"),  # single token: no pairs
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from c3s_sm_spark.operators.textstats import bigram_pmi_pieces

    pairs = Counter()
    for _, t in docs:
        ws = t.split()
        for i in range(len(ws) - 1):
            pairs[(ws[i], ws[i + 1])] += 1
    n_pairs = sum(pairs.values())
    left = Counter()
    right = Counter()
    for (w1, w2), c in pairs.items():
        left[w1] += c
        right[w2] += c
    for mc in (1, 2):
        want = {
            (w1, w2): (c, left[w1], right[w2], n_pairs)
            for (w1, w2), c in pairs.items()
            if c >= mc
        }
        got = {
            (r["w1"], r["w2"]): (
                r["pair_cnt"], r["left_cnt"], r["right_cnt"], r["n_pairs"]
            )
            for r in bigram_pmi_pieces(df, min_count=mc).collect()
        }
        assert got == want, mc
    rows = bigram_pmi_pieces(df, min_count=1).collect()
    assert sum({r["w1"]: r["left_cnt"] for r in rows}.values()) == n_pairs
    with pytest.raises(ValueError, match="min_count"):
        bigram_pmi_pieces(df, min_count=0)


def test_novelty_curve_brute_force(spark):
    """First-seen shingle attribution vs a Python reference walking
    docs in id order; a full duplicate of an earlier doc is 0-novel; a
    doc with all-new text is 100%-novel."""
    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),  # exact dup of 1
        (3, "beta gamma epsilon zeta"),  # partial overlap
        (4, "brand new words entirely"),
        (5, "x"),  # too short for a bigram: no row
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from c3s_sm_spark.operators.textstats import novelty_curve

    seen: set = set()
    want = {}
    for d, t in docs:
        ws = t.split()
        shs = {f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)}
        if not shs:
            continue
        want[d] = (len(shs), len(shs - seen))
        seen |= shs
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"])
        for r in novelty_curve(df, k=2).collect()
    }
    assert got == want
    assert got[2] == (3, 0) and got[4] == (3, 3)


def test_global_rank_and_rank_blend(spark):
    """global_rank equals the single-window row_number at every
    partition count (including n > rows); rank_blend's rank sum matches
    a Python reference over the same total orders."""
    from c3s_sm_spark.operators.sampling import global_rank
    from c3s_sm_spark.operators.textstats import rank_blend

    rows = [(i, (i * 37) % 11) for i in range(40)]  # heavy ties
    df = spark.createDataFrame(rows, "doc_id long, s long")
    want = {
        d: r + 1
        for r, (s, d) in enumerate(sorted((s, d) for d, s in rows))
    }
    for n in (1, 3, 8, 64):
        got = {
            r["doc_id"]: r["rn"]
            for r in global_rank(df, ["s", "doc_id"], n_partitions=n).collect()
        }
        assert got == want, n

    docs = [
        (1, "Hello world this is fine"),
        (2, "aaa!!! ### $$$"),
        (3, ""),
        (4, "One two three four five six seven"),
        (5, "short"),
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")

    def sig(t):
        alpha = sum(c.isascii() and c.isalpha() for c in t)
        spaces = t.count(" ")
        ntok = len(t.split())
        return alpha, spaces, ntok

    sigs = {d: sig(t) for d, t in docs}

    def rank_of(i):
        order = sorted((v[i], d) for d, v in sigs.items())
        return {d: r + 1 for r, (_, d) in enumerate(order)}

    ra, rs, rt = rank_of(0), rank_of(1), rank_of(2)
    want2 = {d: (ra[d], rs[d], rt[d], ra[d] + rs[d] + rt[d]) for d in sigs}
    got2 = {
        r["doc_id"]: (r["rn_alpha"], r["rn_space"], r["rn_tok"], r["rank_sum"])
        for r in rank_blend(ddf).collect()
    }
    assert got2 == want2


def test_phrase_merge_train_matches_reference(spark):
    """The merge table and the rewritten corpus must match a pure-Python
    BPE-at-word-granularity reference (overlap-counted pairs, greedy
    non-overlapping rewrite, (count DESC, w1, w2) argmax)."""
    from collections import Counter

    from c3s_sm_spark.operators.textstats import phrase_merge_train

    docs = [
        (1, "new york city is in new york state"),
        (2, "new york new york"),
        (3, "the city of new york"),
        (4, "a a a a"),  # overlap-count vs greedy-rewrite divergence
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def ref(n_merges, min_count):
        corpus = {d: t.split() for d, t in docs}
        merges = []
        for rnd in range(1, n_merges + 1):
            cnt = Counter()
            for ws in corpus.values():
                for i in range(len(ws) - 1):
                    cnt[(ws[i], ws[i + 1])] += 1
            cands = [(c, w1, w2) for (w1, w2), c in cnt.items() if c >= min_count]
            if not cands:
                break
            # total order (count DESC, w1 ASC, w2 ASC): pick via sort
            cands.sort(key=lambda x: (-x[0], x[1], x[2]))
            c, w1, w2 = cands[0]
            merges.append((rnd, w1, w2, c))
            fused = w1 + "_" + w2
            for d, ws in corpus.items():
                out, i = [], 0
                while i < len(ws):
                    if i + 1 < len(ws) and ws[i] == w1 and ws[i + 1] == w2:
                        out.append(fused)
                        i += 2
                    else:
                        out.append(ws[i])
                        i += 1
                corpus[d] = out
        return merges, corpus

    for n_merges, min_count in ((1, 2), (3, 2), (10, 2), (10, 3)):
        want_merges, want_corpus = ref(n_merges, min_count)
        got = [
            (r["merge_rank"], r["w1"], r["w2"], r["pair_cnt"])
            for r in phrase_merge_train(df, n_merges, min_count)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == want_merges, (n_merges, min_count)
        got_corpus = {
            r["doc_id"]: list(r["toks"])
            for r in phrase_merge_train(
                df, n_merges, min_count, return_corpus=True
            ).collect()
        }
        assert got_corpus == want_corpus, (n_merges, min_count)
    # batched mode (batch_k > 1): up to k token-disjoint merges per
    # corpus pass, selected greedily from the top 4*k candidates in the
    # same total order; pair_cnt is the count in THAT pass
    def ref_batched(n_merges, min_count, batch_k):
        corpus = {d: t.split() for d, t in docs}
        merges = []
        while len(merges) < n_merges:
            take = min(batch_k, n_merges - len(merges))
            cnt = Counter()
            for ws in corpus.values():
                for i in range(len(ws) - 1):
                    cnt[(ws[i], ws[i + 1])] += 1
            cands = [
                (c, w1, w2) for (w1, w2), c in cnt.items() if c >= min_count
            ]
            if not cands:
                break
            cands.sort(key=lambda x: (-x[0], x[1], x[2]))
            used, table = set(), {}
            for c, w1, w2 in cands[: 4 * take]:
                if len(table) >= take:
                    break
                if w1 in used or w2 in used:
                    continue
                merges.append((len(merges) + 1, w1, w2, c))
                table[(w1, w2)] = w1 + "_" + w2
                used |= {w1, w2}
            for d, ws in corpus.items():
                out, i = [], 0
                while i < len(ws):
                    if i + 1 < len(ws) and (ws[i], ws[i + 1]) in table:
                        out.append(table[(ws[i], ws[i + 1])])
                        i += 2
                    else:
                        out.append(ws[i])
                        i += 1
                corpus[d] = out
        return merges, corpus

    for n_merges, min_count, k in ((3, 2, 2), (10, 2, 3), (10, 2, 8)):
        want_merges, want_corpus = ref_batched(n_merges, min_count, k)
        got = [
            (r["merge_rank"], r["w1"], r["w2"], r["pair_cnt"])
            for r in phrase_merge_train(df, n_merges, min_count, batch_k=k)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == want_merges, (n_merges, min_count, k)
        got_corpus = {
            r["doc_id"]: list(r["toks"])
            for r in phrase_merge_train(
                df, n_merges, min_count, return_corpus=True, batch_k=k
            ).collect()
        }
        assert got_corpus == want_corpus, (n_merges, min_count, k)
    # batch_k=1 IS the sequential mode: identical tables
    w1_merges, _ = ref(10, 2)
    got_k1 = [
        (r["merge_rank"], r["w1"], r["w2"], r["pair_cnt"])
        for r in phrase_merge_train(df, 10, 2, batch_k=1)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got_k1 == w1_merges

    # the "a a a a" doc: pair (a,a) counts 3 overlapped, but the greedy
    # non-overlapping rewrite fuses positions (0,1) and (2,3) only
    from c3s_sm_spark.operators.textstats import _merge_once

    assert _merge_once(["a", "a", "a", "a"], "a", "a", "a_a") == ["a_a", "a_a"]
    assert _merge_once(["a", "a", "a"], "a", "a", "a_a") == ["a_a", "a"]

    import pytest as _pt

    with _pt.raises(ValueError, match="n_merges"):
        phrase_merge_train(df, n_merges=0)
    with _pt.raises(ValueError, match="min_count"):
        phrase_merge_train(df, min_count=0)
    with _pt.raises(ValueError, match="batch_k"):
        phrase_merge_train(df, batch_k=0)


def test_cluster_embeddings_recovers_blobs(spark):
    """On well-separated synthetic blobs, k-means clustering must (a)
    co-assign every vector of a blob, (b) separate distinct blobs, (c)
    report near-1 cohesion for tight clusters, and (d) be identical at
    different parallelism."""
    import numpy as np

    from c3s_sm_spark.operators.similarity import cluster_embeddings

    rng_dirs = np.eye(4)  # 4 orthogonal blob directions in R^4
    rows = []
    vid = 0
    for b in range(4):
        for j in range(12):
            # tight cone around direction b: base + tiny deterministic jitter
            v = rng_dirs[b] + 0.01 * np.array(
                [((vid * 7 + i * 3) % 5 - 2) / 10.0 for i in range(4)]
            )
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out1 = {
        r["vec_id"]: (r["cluster"], r["cos_sim"])
        for r in cluster_embeddings(df, k=4, n_iters=5).collect()
    }
    # blob purity: each blob of 12 maps to exactly one cluster, and the 4
    # blobs map to 4 distinct clusters
    blob_clusters = []
    for b in range(4):
        cl = {out1[vid][0] for vid in range(b * 12, (b + 1) * 12)}
        assert len(cl) == 1, (b, cl)
        blob_clusters.append(cl.pop())
    assert len(set(blob_clusters)) == 4
    # cohesion: tight cones -> cosine to own centroid ~1
    assert all(c >= 0.999 for _, c in out1.values())
    # parallelism invariance
    out2 = {
        r["vec_id"]: (r["cluster"], r["cos_sim"])
        for r in cluster_embeddings(
            df.repartition(7), k=4, n_iters=5
        ).collect()
    }
    assert out1 == out2


def test_token_diversity_brute_force(spark):
    """Diversity pieces vs a Counter-based reference: repeats,
    whitespace collapse, single-token doc, and the empty/blank docs
    dropping out entirely (same exclusion contract as oov_stats)."""
    from collections import Counter

    docs = [
        ("d1", "the cat sat on the mat the cat"),
        ("d2", "  spaced   out\ttokens \n here  "),
        ("d3", "solo"),
        ("d4", ""),
        ("d5", "     "),
        ("d6", "a a a a a"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    from c3s_sm_spark.operators.textstats import token_diversity

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct"], r["sum_sq"], r["max_cnt"])
        for r in token_diversity(df).collect()
    }
    assert set(got) == {"d1", "d2", "d3", "d6"}  # blanks excluded
    for doc_id, text in docs:
        toks = text.split()
        if not toks:
            continue
        c = Counter(toks)
        want = (
            sum(c.values()),
            len(c),
            sum(v * v for v in c.values()),
            max(c.values()),
        )
        assert got[doc_id] == want, doc_id
    # invariants the derived indices rely on
    for n, k, ss, mx in got.values():
        assert k <= n and mx * mx <= ss <= n * n
    # words_col wart, pinned: trim strips only ASCII space (Spark and
    # DuckDB agree), so a tab/newline-only doc is NOT excluded — it
    # normalizes to a single collapsed space and two "" tokens. Both
    # engines compute the same thing, so the oracle hash still holds.
    tabby = spark.createDataFrame(
        [("t1", "\t\n")], "doc_id string, text string"
    )
    (row,) = token_diversity(tabby).collect()
    assert (row["n_tokens"], row["n_distinct"]) == (2, 1)


def test_heavy_hitters_exact_vs_brute_force(spark):
    """The MG-pruned recount equals the brute-force HAVING relation on
    a skewed corpus, at several partition counts (the sketch is
    per-partition, so repartitioning must not change the EXACT output),
    and with k small enough that the per-partition summaries actually
    evict (the prune path runs, not just the trivial k > vocab case)."""
    import random

    from c3s_sm_spark.operators.textstats import heavy_hitters

    rng = random.Random(82)
    # zipf-ish corpus: few huge tokens, long tail
    vocab = [f"w{i}" for i in range(400)]
    docs = []
    for d in range(60):
        toks = []
        for _ in range(rng.randint(20, 120)):
            r = rng.random()
            if r < 0.35:
                toks.append(vocab[rng.randint(0, 4)])      # hot head
            elif r < 0.6:
                toks.append(vocab[rng.randint(5, 30)])
            else:
                toks.append(vocab[rng.randint(31, 399)])   # tail
        docs.append((f"d{d}", " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id string, text string")

    all_toks = [t for _, text in docs for t in text.split()]
    n = len(all_toks)
    from collections import Counter

    cnt = Counter(all_toks)
    for k in (10, 50):
        want = {(t, c) for t, c in cnt.items() if c * k > n}
        for parts in (1, 7):
            got = {
                (r["tok"], r["cnt"])
                for r in heavy_hitters(df.repartition(parts), k=k).collect()
            }
            assert got == want, (k, parts)
    # k=10 on 400-token vocab forces MG eviction in every partition
    assert len(want) > 0
    with pytest.raises(ValueError, match="k must be"):
        heavy_hitters(df, k=1)


def test_waterfill_alloc_brute_force(spark):
    """Waterfilling equals a Python brute force across every regime —
    none / some / all sources saturated, zero budget, ratio ties —
    and the allocation is exact integer floor division."""
    import random

    from c3s_sm_spark.operators.sampling import waterfill_alloc

    def brute(srcs, budget):
        # srcs: list of (name, a, w); returns {name: (sat, alloc)}
        order = sorted(srcs, key=lambda x: (x[1] / x[2], x[0]))
        total_a = sum(a for _, a, _ in order)
        k, pa, pw = 0, 0, 0
        tw = sum(w for _, _, w in order)
        # grow the saturated prefix while the next source can't fill
        # its weighted share of what remains
        for name, a, w in order:
            sw = tw - (pw + w)
            rem = budget - (pa + a)
            # source saturates iff a/w <= t where t solves the rest
            if sw > 0:
                if a * sw <= w * rem:
                    k, pa, pw = k + 1, pa + a, pw + w
                else:
                    break
            else:  # last source: saturates only if budget covers all
                if budget >= total_a:
                    k, pa, pw = k + 1, pa + a, pw + w
        rem, sw = budget - pa, tw - pw
        out = {}
        for i, (name, a, w) in enumerate(order):
            if i < k:
                out[name] = (1, a)
            else:
                out[name] = (0, (w * rem) // sw)
        return out

    rng = random.Random(84)
    cases = [
        # (sources, budget)
        ([("a", 100, 1), ("b", 100, 1)], 0),            # zero budget
        ([("a", 100, 1), ("b", 100, 1)], 1000),         # all saturate
        ([("a", 10, 5), ("b", 1000, 1)], 200),          # a saturates
        ([("a", 50, 1), ("b", 50, 1), ("c", 50, 1)], 60),  # ties, none
        ([("a", 5, 1), ("b", 5, 1), ("c", 500, 1)], 100),  # tie both sat
    ]
    for _ in range(6):
        n = rng.randint(2, 8)
        srcs = [
            (f"s{i}", rng.randint(1, 2000), rng.randint(1, 9))
            for i in range(n)
        ]
        cases.append((srcs, rng.randint(0, 4000)))

    for srcs, budget in cases:
        want = brute(srcs, budget)
        df = spark.createDataFrame(srcs, "source string, a long, w long")
        got = {
            r["source"]: (r["saturated"], r["alloc"])
            for r in waterfill_alloc(df, "source", "a", "w", budget).collect()
        }
        assert got == want, (srcs, budget, got, want)
        # invariant: total allocation == min(budget, total avail) minus
        # only the deliberate floor remainder (< number of unsaturated)
        tot = sum(al for _, al in got.values())
        cap = min(budget, sum(a for _, a, _ in srcs))
        n_unsat = sum(1 for s_, al in got.values() if not s_)
        assert cap - n_unsat < tot <= cap or (n_unsat == 0 and tot == cap)

    with pytest.raises(ValueError, match="budget"):
        waterfill_alloc(
            spark.createDataFrame([("a", 1, 1)], "source string, a long, w long"),
            "source", "a", "w", -1,
        )


def test_zorder_key_and_layout(spark):
    """The interleave equals a Python brute force bit-for-bit, raises
    loudly out of range, and zorder_layout yields DISJOINT per-
    partition z ranges (the range-partitioning property data-skipping
    relies on) with both dimensions' spread shrunk inside partitions."""
    import random

    from c3s_sm_spark.operators.grid import zorder_key, zorder_layout

    def brute(x, y, bits):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    rng = random.Random(89)
    pts = [(rng.randint(0, 1023), rng.randint(0, 1023)) for _ in range(500)]
    pts += [(0, 0), (1023, 1023), (0, 1023), (1023, 0)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y"), 10).alias("z")).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == brute(x, y, 10), (x, y)

    # out-of-range must raise, not alias
    bad = spark.createDataFrame([(1024, 1)], "x long, y long")
    with pytest.raises(Exception, match="zorder_key"):
        bad.select(zorder_key(F.col("x"), F.col("y"), 10)).collect()
    with pytest.raises(ValueError, match="bits"):
        zorder_key(F.col("x"), F.col("y"), 32)

    # layout: per-partition z ranges disjoint, rows preserved
    laid = zorder_layout(df, "x", "y", bits=10, n_partitions=8)
    assert laid.count() == len(pts)
    parts = (
        laid.select("x", "y")
        .rdd.mapPartitions(
            lambda it: (lambda rows: [(
                min(brute(r.x, r.y, 10) for r in rows),
                max(brute(r.x, r.y, 10) for r in rows),
            )] if rows else [])(list(it))
        )
        .collect()
    )
    parts.sort()
    for (lo1, hi1), (lo2, hi2) in zip(parts, parts[1:]):
        assert hi1 <= lo2, parts  # disjoint (range partitioning)
    assert len(parts) > 1


def test_constraint_audit_null_predicate_and_uniqueness(spark):
    # X92: NULL predicate result counts as a violation (Deequ
    # convention); uniqueness counts non-null duplicate extras only
    from c3s_sm_spark.operators.profile import constraint_audit

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 200.0), (3, 5.0), (None, 1.0)],
        "k long, v double",
    )
    out = {
        r["check_name"]: (r["n_checked"], r["n_violations"])
        for r in constraint_audit(
            df,
            [("v_le_100", F.col("v") <= 100.0)],
            unique_cols=["k"],
        ).collect()
    }
    # v<=100: row v=200 fails, row v=NULL fails (NULL != pass)
    assert out["v_le_100"] == (5, 2)
    # k: 4 non-null values, 3 distinct -> 1 duplicate extra; NULL ignored
    assert out["unique:k"] == (5, 1)


def test_constraint_audit_guard(spark):
    from c3s_sm_spark.operators.profile import constraint_audit

    with pytest.raises(ValueError):
        constraint_audit(spark.range(3), [])


def test_fk_orphans_nulls_not_orphans(spark):
    from c3s_sm_spark.operators.profile import fk_orphans

    fact = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "user_id long"
    )
    dim = spark.createDataFrame([(1,), (2,), (2,)], "c_custkey long")
    row = fk_orphans(fact, "user_id", dim, "c_custkey").collect()[0]
    assert row["check_name"] == "fk:user_id"
    assert row["n_checked"] == 4
    assert row["n_violations"] == 1  # only 99; NULL is not an orphan


def test_inverted_index_postings_sorted_and_exact(spark):
    # X96: packed postings vs hand-computed; sort_array canonical order
    from c3s_sm_spark.operators.textstats import inverted_index

    docs = spark.createDataFrame(
        [(2, "b a b"), (1, "a  b"), (3, "   ")],  # ws collapse; blank doc
        "doc_id long, text string",
    ).repartition(3)
    idx = {r["token"]: r for r in inverted_index(docs).collect()}
    assert set(idx) == {"a", "b"}
    a = idx["a"]
    assert [(p["doc_id"], p["pos"]) for p in a["postings"]] == [(1, 0), (2, 1)]
    assert (a["doc_freq"], a["n_postings"]) == (2, 2)
    b = idx["b"]
    assert [(p["doc_id"], p["pos"]) for p in b["postings"]] == [
        (1, 1), (2, 0), (2, 2),
    ]
    assert (b["doc_freq"], b["n_postings"]) == (2, 3)


def test_postings_checksum_matches_packed_index(spark):
    # the checksum witness must equal the same reduction computed from
    # the packed arrays — pins the two paths to each other
    from c3s_sm_spark.operators.textstats import (
        inverted_index,
        postings_checksum,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common w{i % 5} common") for i in range(40)],
        "doc_id long, text string",
    )
    from_packed = {
        r["token"]: sum(
            p["doc_id"] * (p["pos"] + 1) + p["pos"] for p in r["postings"]
        )
        for r in inverted_index(docs).collect()
    }
    from_witness = {
        r["token"]: r["checksum"] for r in postings_checksum(docs).collect()
    }
    assert from_packed == from_witness
    from c3s_sm_spark.operators.textstats import inverted_index as ii
    with pytest.raises(ValueError):
        ii(docs, min_df=0)


def test_inverted_index_min_df_prunes(spark):
    from c3s_sm_spark.operators.textstats import inverted_index

    docs = spark.createDataFrame(
        [(1, "rare common"), (2, "common")], "doc_id long, text string"
    )
    toks = {r["token"] for r in inverted_index(docs, min_df=2).collect()}
    assert toks == {"common"}


def test_cube_stats_lattice_and_null_disambiguation(spark):
    # X97: every grain present; data NULL stays distinct from '(all)'
    from c3s_sm_spark.operators.profile import cube_stats

    df = spark.createDataFrame(
        [("web", "en", 10), ("web", "de", 20), (None, "en", 5)],
        "source string, lang string, n_chars long",
    )
    out = {
        (r["source"], r["lang"]): (r["n"], r["chars"])
        for r in cube_stats(
            df,
            ["source", "lang"],
            [("n", F.count(F.lit(1)).cast("long")),
             ("chars", F.sum("n_chars").cast("long"))],
        ).collect()
    }
    assert out[("(all)", "(all)")] == (3, 35)       # grand total
    assert out[("web", "(all)")] == (2, 30)         # by source
    assert out[("(null)", "(all)")] == (1, 5)       # data NULL ≠ total
    assert out[("(all)", "en")] == (2, 15)          # by lang
    assert out[("web", "de")] == (1, 20)            # finest grain
    # full lattice: 1 total + 2 sources + 2 langs + 3 pairs
    assert len(out) == 8
    with pytest.raises(ValueError):
        cube_stats(df, [], [("n", F.count(F.lit(1)))])


def test_budget_burndown_prefix_and_sentinel(spark):
    # X99: admitted set is an order prefix; exact cut; -1 sentinel
    from c3s_sm_spark.operators.sampling import budget_burndown

    df = spark.createDataFrame(
        [
            ("a", 1, 50), ("a", 2, 40), ("a", 3, 20), ("a", 4, 5),
            ("b", 1, 10), ("b", 2, 10),
        ],
        "src string, ord long, amt long",
    ).repartition(4)
    out = {
        r["src"]: (r["n"], r["total"], r["n_within"], r["exhaust_at"])
        for r in budget_burndown(df, "src", "ord", "amt", budget=100).collect()
    }
    # a: cum 50,90,110,115 -> 2 within, exhausts at ord 3
    assert out["a"] == (4, 115, 2, 3)
    # b: never exhausts
    assert out["b"] == (2, 20, 2, -1)


def test_budget_burndown_exact_boundary(spark):
    # cum == budget is within (inclusive running total)
    from c3s_sm_spark.operators.sampling import budget_burndown

    df = spark.createDataFrame(
        [("a", 1, 60), ("a", 2, 40), ("a", 3, 1)],
        "src string, ord long, amt long",
    )
    r = budget_burndown(df, "src", "ord", "amt", budget=100).collect()[0]
    assert (r["n_within"], r["exhaust_at"]) == (2, 3)


def test_eqfreq_hist_matches_ntile_and_remainder_rule(spark):
    # X100: k=4 over 10 rows -> bucket sizes 3,3,2,2 (SQL NTILE rule);
    # buckets must be contiguous in value order at any parallelism
    from c3s_sm_spark.operators.sampling import eqfreq_hist

    df = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(10)], "eid long, v double"
    ).repartition(5)
    out = {r["bucket"]: r for r in eqfreq_hist(df, "v", "eid", k=4).collect()}
    assert [out[b]["n"] for b in range(4)] == [3, 3, 2, 2]
    # values 91..100; bucket 0 holds the 3 smallest
    assert (out[0]["v_min_micro"], out[0]["v_max_micro"]) == (910000, 930000)
    assert (out[3]["v_min_micro"], out[3]["v_max_micro"]) == (990000, 1000000)
    # extents must not overlap (total order respected)
    exts = [(out[b]["v_min_micro"], out[b]["v_max_micro"]) for b in range(4)]
    for (lo1, hi1), (lo2, hi2) in zip(exts, exts[1:]):
        assert hi1 <= lo2


def test_eqfreq_hist_n_less_than_k_and_guard(spark):
    from c3s_sm_spark.operators.sampling import eqfreq_hist

    df = spark.createDataFrame([(1, 5.0), (2, 1.0)], "eid long, v double")
    out = {r["bucket"]: r["n"] for r in eqfreq_hist(df, "v", "eid", k=5).collect()}
    assert out == {0: 1, 1: 1}  # q=0 path: one row per leading bucket
    with pytest.raises(ValueError):
        eqfreq_hist(df, "v", "eid", k=0)


def test_join_degree_exact_blowup_and_classes(spark):
    # X101: pairs_total must equal the actual inner-join count
    from c3s_sm_spark.operators.profile import join_degree

    left = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (3,)], "k long"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (3,), (3,), (3,), (9,)], "k long"
    )
    r = join_degree(left, right, "k").collect()[0]
    actual = left.join(right, "k").count()
    assert r["pairs_total"] == actual == 3 * 2 + 1 * 3
    assert (r["n_keys_both"], r["n_keys_left_only"], r["n_keys_right_only"]) == (2, 1, 1)
    assert r["max_degree_pairs"] == 6
    assert r["argmax_key"] == "1"


def test_join_degree_tie_rule_and_empty(spark):
    from c3s_sm_spark.operators.profile import join_degree

    # keys 2 and 7 tie at 1 pair each -> largest string key wins
    left = spark.createDataFrame([(2,), (7,)], "k long")
    right = spark.createDataFrame([(2,), (7,)], "k long")
    r = join_degree(left, right, "k").collect()[0]
    assert (r["max_degree_pairs"], r["argmax_key"]) == (1, "7")
    empty = spark.createDataFrame([], "k long")
    r2 = join_degree(empty, right, "k").collect()[0]
    assert (r2["pairs_total"], r2["max_degree_pairs"], r2["n_keys_both"]) == (0, 0, 0)


def _rank_docs(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
            (4, "   "),  # blank doc: contributes to N, never to terms
        ],
        "doc_id long, text string",
    )


def test_tfidf_linear_micro_exact_and_ties(spark):
    # X102: hand-computed fixed-point scores; N=4 includes the blank doc
    from c3s_sm_spark.operators.ranking import tfidf_terms

    out = tfidf_terms(_rank_docs(spark), k=2, idf_mode="linear_micro")
    rows = {(r["doc_id"], r["rn"]): r for r in out.collect()}
    # d1: apple tf=2 df=1 -> 2*4e6/1 = 8e6 ; banana tf=1 df=2 -> 2e6
    assert rows[(1, 1)]["token"] == "apple"
    assert rows[(1, 1)]["score_q"] == 8_000_000
    assert rows[(1, 2)]["token"] == "banana"
    assert rows[(1, 2)]["score_q"] == 2_000_000
    # d2: banana and cherry tie (tf=1, df=2) -> token ASC breaks it
    assert rows[(2, 1)]["token"] == "banana"
    assert rows[(2, 2)]["token"] == "cherry"
    # blank doc emits nothing
    assert not [k for k in rows if k[0] == 4]


def test_tfidf_log_mode_agrees_on_rank1(spark):
    from c3s_sm_spark.operators.ranking import tfidf_terms

    docs = _rank_docs(spark)
    lin = {
        r["doc_id"]: r["token"]
        for r in tfidf_terms(docs, k=1, idf_mode="linear_micro").collect()
    }
    log = {
        r["doc_id"]: r["token"]
        for r in tfidf_terms(docs, k=1, idf_mode="log").collect()
    }
    assert lin == log == {1: "apple", 2: "banana", 3: "cherry"}
    with pytest.raises(ValueError):
        tfidf_terms(docs, idf_mode="nope")


def test_bm25_pieces_exact_and_score(spark):
    from c3s_sm_spark.operators.ranking import bm25_pieces, bm25_score

    docs = _rank_docs(spark)
    pieces = bm25_pieces(docs, ["cherry", "banana"])
    got = {
        (r["doc_id"], r["token"]): (
            r["tf"], r["dl"], r["df"], r["n_docs"], r["total_len"]
        )
        for r in pieces.collect()
    }
    # dl: d1=3 d2=2 d3=4 (blank doc dl=0, no hits); total_len=9, N=4
    assert got == {
        (1, "banana"): (1, 3, 2, 4, 9),
        (2, "banana"): (1, 2, 2, 4, 9),
        (2, "cherry"): (1, 2, 2, 4, 9),
        (3, "cherry"): (3, 4, 2, 4, 9),
    }
    import math

    k1, b = 1.2, 0.75
    idf = math.log((4 - 2 + 0.5) / (2 + 0.5) + 1.0)

    def term(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl * 4 / 9))

    scores = {r["doc_id"]: r["bm25"] for r in bm25_score(pieces).collect()}
    assert scores[2] == pytest.approx(term(1, 2) + term(1, 2))
    assert scores[3] == pytest.approx(term(3, 4))
    with pytest.raises(ValueError):
        bm25_pieces(docs, [])


def test_lorenz_gini_exact_small(spark):
    # X103: 4 items, hand-computed buckets and exact Gini
    from c3s_sm_spark.operators.profile import gini_from_pieces, lorenz_gini

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "id long, v long"
    )
    out = lorenz_gini(df, "v", "id", buckets=2).collect()
    rows = {r["bucket"]: r for r in out}
    # ranks 1..4 ascending by v; bucket = ceil(rn*2/4): rn 1,2 -> 1; 3,4 -> 2
    assert rows[1]["x_sum"] == 30 and rows[2]["x_sum"] == 70
    assert rows[1]["ix_sum"] == 1 * 10 + 2 * 20
    assert rows[2]["ix_sum"] == 3 * 30 + 4 * 40
    assert rows[2]["cum_x"] == 100
    # G = (2*Σrn·x - (n+1)Σx) / (nΣx) = (2*300 - 5*100)/(4*100) = 0.25
    g = gini_from_pieces(lorenz_gini(df, "v", "id", buckets=2))
    assert g == pytest.approx(0.25)


def test_lorenz_gini_tie_and_partition_invariance(spark):
    from c3s_sm_spark.operators.profile import gini_from_pieces, lorenz_gini

    data = [(i, (i * 7) % 5 + 1) for i in range(1, 101)]  # heavy ties
    a = spark.createDataFrame(data, "id long, v long")
    b = a.repartition(17)
    ra = sorted(map(tuple, lorenz_gini(a, "v", "id", buckets=10).collect()))
    rb = sorted(map(tuple, lorenz_gini(b, "v", "id", buckets=10).collect()))
    assert ra == rb  # rank assignment is partitioning-independent
    # brute-force Gini over the sorted multiset
    xs = sorted(v for _, v in data)
    n, sx = len(xs), sum(xs)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    expected = (2 * six - (n + 1) * sx) / (n * sx)
    assert gini_from_pieces(lorenz_gini(a, "v", "id")) == pytest.approx(expected)
    # uniform corpus -> G == 0
    u = spark.createDataFrame([(i, 5) for i in range(1, 21)], "id long, v long")
    assert gini_from_pieces(lorenz_gini(u, "v", "id")) == pytest.approx(0.0)
    with pytest.raises(ValueError):
        lorenz_gini(a, "v", "id", buckets=0)


def _brute_ed1(tokens):
    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i in range(1, len(a) + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, len(b) + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1,
                            prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return dp[-1]

    ts = sorted(tokens)
    return {
        (a, b)
        for i, a in enumerate(ts)
        for b in ts[i + 1:]
        if abs(len(a) - len(b)) <= 1 and ed(a, b) == 1
    }


def test_typo_pairs_complete_vs_brute_force(spark):
    # X104: deletion-neighborhood join must be COMPLETE for ED<=1 —
    # substitution, insertion, deletion all recovered; transpositions
    # ("ab"/"ba", ED=2) and beyond must NOT appear
    from c3s_sm_spark.operators.fuzzy import typo_pairs

    toks = [
        "cold", "old", "bold", "bolt", "red", "rod", "road",
        "ab", "ba", "a", "b", "aa", "abba",
        "spark", "sparc", "sparkk", "park",
    ]
    vocab = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(toks)], "token string, df long"
    )
    got = {(r["tok_a"], r["tok_b"]) for r in typo_pairs(vocab).collect()}
    assert got == _brute_ed1(toks)
    # dfs pass through
    row = [r for r in typo_pairs(vocab).collect() if r["tok_a"] == "cold"]
    assert all(r["df_a"] == toks.index("cold") + 1 for r in row)


def test_typo_pairs_max_len_and_guards(spark):
    from c3s_sm_spark.operators.fuzzy import typo_pairs

    vocab = spark.createDataFrame(
        [("abcdef", 1), ("abcdeg", 1), ("", 9)], "token string, df long"
    )
    # both tokens over max_len=5 -> excluded entirely; empty dropped
    assert typo_pairs(vocab, max_len=5).count() == 0
    assert typo_pairs(vocab).count() == 1


def _pagerank_brute(edges, iters=3, d=850):
    # same integer recurrence, plain Python
    from collections import defaultdict

    e = sorted(set(edges))
    deg = defaultdict(int)
    for s, _ in e:
        deg[s] += 1
    nodes = sorted({s for s, _ in e} | {t for _, t in e})
    r = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        s = defaultdict(int)
        for u, v in e:
            s[v] += r[u] // deg[u]
        r = {n: 150_000 + (850 * s.get(n, 0)) // 1000 for n in nodes}
    return r


def test_pagerank_matches_integer_brute_force(spark):
    # X105: asymmetric digraph incl. a dangling-ish sink and a hub
    from c3s_sm_spark.operators.graph import pagerank_micro

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "c"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(df, iterations=3).collect()
    }
    assert got == _pagerank_brute(edges)
    # duplicate edges collapse; partitioning must not matter
    dup = spark.createDataFrame(edges * 3, "src string, dst string")
    got2 = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(dup.repartition(13), iterations=3).collect()
    }
    assert got2 == got


def test_pagerank_ring_uniform_and_star_ordering(spark):
    from c3s_sm_spark.operators.graph import pagerank_micro

    ring = [(str(i), str((i + 1) % 5)) for i in range(5)]
    ranks = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(
            spark.createDataFrame(ring, "src string, dst string")
        ).collect()
    }
    assert len(set(ranks.values())) == 1  # regular graph -> uniform
    # undirected star: center collects from all leaves
    star = [("c", str(i)) for i in range(4)] + [(str(i), "c") for i in range(4)]
    sr = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(
            spark.createDataFrame(star, "src string, dst string")
        ).collect()
    }
    assert all(sr["c"] > sr[str(i)] for i in range(4))
    with pytest.raises(ValueError):
        pagerank_micro(spark.createDataFrame(ring, "src string, dst string"), iterations=0)
    with pytest.raises(ValueError):
        pagerank_micro(spark.createDataFrame(ring, "src string, dst string"), damping_milli=1000)


def test_cooccurrence_edges_symmetric_distinct(spark):
    from c3s_sm_spark.operators.graph import cooccurrence_edges

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "y z y"), (3, "")],
        "doc_id long, text string",
    )
    got = {(r["src"], r["dst"]) for r in cooccurrence_edges(docs).collect()}
    assert got == {("x", "y"), ("y", "x"), ("y", "z"), ("z", "y")}


def test_group_ngram_overlap_exact_pieces(spark):
    # X106: hand-computed trigram sets incl. a zero-overlap pair
    from c3s_sm_spark.operators.dedup_text import group_ngram_overlap

    docs = spark.createDataFrame(
        [
            (1, "A", "a b c d"),      # trigrams: "a b c", "b c d"
            (2, "B", "a b c x"),      # "a b c", "b c x"
            (3, "C", "p q r"),        # "p q r"
            (4, "A", "a b c"),        # dup trigram within A -> set stays 2
            (5, "D", "xy"),           # too short -> empty set, no sizes row
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r["src_a"], r["src_b"]): (r["n_a"], r["n_b"], r["inter"], r["uni"])
        for r in group_ngram_overlap(docs, k=3).collect()
    }
    assert rows[("A", "B")] == (2, 2, 1, 3)
    assert rows[("A", "C")] == (2, 1, 0, 3)
    assert rows[("B", "C")] == (2, 1, 0, 3)
    assert ("A", "D") not in rows  # empty-set group contributes nothing
    assert len(rows) == 3


def test_cross_group_dups_normalization_and_pairs(spark):
    # X107: case/whitespace-insensitive leakage; within-group dups ignored
    from c3s_sm_spark.operators.dedup_text import cross_group_dups

    docs = spark.createDataFrame(
        [
            (1, "A", "Hello  World"),
            (2, "B", "hello world"),     # leaks A<->B after normalization
            (3, "B", "hello world "),    # same fp, still ONE shared fp
            (4, "C", "hello world"),     # leaks A<->C and B<->C
            (5, "A", "unique to a"),
            (6, "A", "unique to a"),     # within-group dup: not leakage
            (7, "D", "only d"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r["src_a"], r["src_b"]): r["n_shared"]
        for r in cross_group_dups(docs).collect()
    }
    assert rows == {("A", "B"): 1, ("A", "C"): 1, ("B", "C"): 1}


def test_countmin_overcount_and_collisions(spark):
    # X108: est >= true always; wide sketch is exact on a tiny vocab;
    # width 16 forces collisions and min-over-depth still bounds them
    from c3s_sm_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )

    data = [(t,) for t in ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"]]
    keys = spark.createDataFrame(data, "token string")
    true = {"a": 5, "b": 3, "c": 2, "d": 1}
    wide = countmin_estimate(countmin_build(keys), keys)
    got = {r["token"]: r["cm_est"] for r in wide.collect()}
    assert got == true  # 65536 cells, 4 tokens: collision-free
    narrow = countmin_estimate(
        countmin_build(keys, depth=2, prefix_hex=1),
        keys,
        depth=2,
        prefix_hex=1,
    )
    got_n = {r["token"]: r["cm_est"] for r in narrow.collect()}
    assert all(got_n[t] >= true[t] for t in true)  # never undercounts
    assert sum(got_n.values()) <= 4 * sum(true.values())  # bounded blowup
    # absent key probes to 0 (or a collision overcount, never negative)
    ghost = countmin_estimate(
        countmin_build(keys), spark.createDataFrame([("zz",)], "token string")
    ).collect()[0]
    assert ghost["cm_est"] == 0
    with pytest.raises(ValueError):
        countmin_build(keys, depth=0)


def test_countmin_mergeable_across_loads(spark):
    # cell-wise union+re-group of two day-sketches == sketch of union
    from pyspark.sql import functions as F
    from c3s_sm_spark.operators.sketches import countmin_build

    day1 = spark.createDataFrame([(t,) for t in "aabc"], "token string")
    day2 = spark.createDataFrame([(t,) for t in "bcdd"], "token string")
    merged = (
        countmin_build(day1)
        .union(countmin_build(day2))
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    full = countmin_build(day1.union(day2))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_token_diversity_group_grain(spark):
    # X109: source-grain pieces equal hand-aggregation; doc grain intact
    from c3s_sm_spark.operators.textstats import token_diversity

    docs = spark.createDataFrame(
        [
            (1, "A", "x x y"),
            (2, "A", "x z"),
            (3, "B", "w w w w"),
        ],
        "doc_id long, source string, text string",
    )
    src = {
        r["source"]: (r["n_tokens"], r["n_distinct"], r["sum_sq"], r["max_cnt"])
        for r in token_diversity(docs, group_col="source").collect()
    }
    # A: x->3, y->1, z->1  |  B: w->4
    assert src == {"A": (5, 3, 11, 3), "B": (4, 1, 16, 4)}
    doc = {
        r["doc_id"]: r["sum_sq"]
        for r in token_diversity(docs).collect()
    }
    assert doc == {1: 5, 2: 2, 3: 16}


def test_winsorize_pieces_exact_and_ties(spark):
    # X110: hand-computed thresholds; threshold ties never clip
    from c3s_sm_spark.operators.timeseries import winsorize_pieces

    vals = [1, 2, 2, 3, 4, 5, 6, 7, 8, 100]  # n=10
    df = spark.createDataFrame(
        [("k", v) for v in vals], "g string, v long"
    )
    # alpha=10%: k_lo = ceil(1.0)=1 -> lo = 1st stat = 1; k_hi = 10 -> hi = 100
    r = winsorize_pieces(df, ["g"], "v", alpha_milli=100).collect()[0]
    assert (r["n"], r["lo"], r["hi"]) == (10, 1, 100)
    assert (r["n_clip_lo"], r["n_clip_hi"]) == (0, 0)
    assert r["sum_clipped"] == sum(vals)
    # alpha=20%: k_lo = 2 -> lo = 2 (tie!); k_hi = 9 -> hi = 8
    r = winsorize_pieces(df, ["g"], "v", alpha_milli=200).collect()[0]
    assert (r["lo"], r["hi"]) == (2, 8)
    # only the 1 is below lo (the two 2s tie the threshold, not clipped);
    # only 100 is above hi
    assert (r["n_clip_lo"], r["n_clip_hi"]) == (1, 1)
    assert r["sum_clipped"] == 2 + 2 + 2 + 3 + 4 + 5 + 6 + 7 + 8 + 8
    # n=1 degenerates to no clipping
    one = spark.createDataFrame([("k", 7)], "g string, v long")
    r1 = winsorize_pieces(one, ["g"], "v").collect()[0]
    assert (r1["lo"], r1["hi"], r1["sum_clipped"]) == (7, 7, 7)
    with pytest.raises(ValueError):
        winsorize_pieces(df, ["g"], "v", alpha_milli=500)


def test_assign_splits_disjoint_exhaustive_stable(spark):
    # X111: every row exactly one label; stable under re-ingestion and
    # parallelism; salt changes geometry; guards
    from c3s_sm_spark.operators.sampling import assign_splits, split_cuts

    df = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    fr = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    a = assign_splits(df, "k", fr)
    counts = {r["split"]: r["cnt"] for r in a.groupBy("split").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert sum(counts.values()) == 1000 and set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # deterministic across partitionings
    b = assign_splits(df.repartition(7), "k", fr)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # a subset re-ingested later keeps its labels (no index dependence)
    sub = assign_splits(df.where(F.col("k") < 100), "k", fr)
    full = {r["k"]: r["split"] for r in a.collect()}
    assert all(full[r["k"]] == r["split"] for r in sub.collect())
    # salt gives a different geometry
    s = assign_splits(df, "k", fr, salt="v2")
    assert sorted(map(tuple, s.collect())) != sorted(map(tuple, a.collect()))
    # cuts are monotone and end at the saturating sentinel
    cuts = split_cuts(fr)
    assert cuts[-1][1] == "g" and cuts[0][1] < cuts[1][1]
    with pytest.raises(ValueError):
        assign_splits(df, "k", [("a", 0.5), ("b", 0.4)])
    with pytest.raises(ValueError):
        assign_splits(df, "k", [("a", 1.0)])
    with pytest.raises(ValueError):
        assign_splits(df, "k", [("a", 0.5), ("a", 0.5)])


def test_embedding_audit_null_nan_zero_paths(spark):
    # X112: constructed table exercises every health branch
    from pyspark.sql import Row
    from c3s_sm_spark.operators.similarity import embedding_audit

    rows = [
        Row(g="a", embedding=[1.0, 2.0]),          # n2q = 1e6 + 4e6
        Row(g="a", embedding=[0.0, 0.0]),          # zero vector
        Row(g="a", embedding=None),                # null vector
        Row(g="b", embedding=[float("nan"), 1.0]), # NaN vector
        Row(g="b", embedding=[3.0, 4.0, 0.0]),     # mixed dim in group
    ]
    df = spark.createDataFrame(rows, "g string, embedding array<double>")
    got = {
        r["g"]: (
            r["n_vecs"], r["n_null"], r["n_nan"], r["n_zero"],
            r["dim_min"], r["dim_max"], r["sum_norm2q"],
        )
        for r in embedding_audit(df, group_col="g").collect()
    }
    assert got["a"] == (3, 1, 0, 1, 2, 2, 5_000_000)
    assert got["b"] == (2, 0, 1, 0, 2, 3, 25_000_000)
    # corpus-wide grain (no group col): one row, same totals
    allr = embedding_audit(df).collect()[0]
    assert (allr["n_vecs"], allr["n_null"], allr["n_nan"]) == (5, 1, 1)
    assert allr["sum_norm2q"] == 30_000_000


def test_kmv_sketch_merge_and_estimate(spark):
    # X113: merge(sketch(A-half), sketch(B-half)) == sketch(whole);
    # estimate is exact below k and within tolerance above
    from c3s_sm_spark.operators.sketches import (
        kmv_distinct_estimate,
        kmv_merge,
        kmv_sketch,
    )

    items = spark.createDataFrame(
        [("g", f"key{i}") for i in range(500)] * 2, "g string, k string"
    )
    k = 32
    full = kmv_sketch(items, "g", "k", k=k)
    half1 = kmv_sketch(items.where(F.col("k") < "key3"), "g", "k", k=k)
    half2 = kmv_sketch(items.where(F.col("k") >= "key25"), "g", "k", k=k)
    merged = kmv_merge(half1.union(half2), "g", k=k)  # overlapping halves
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    est = kmv_distinct_estimate(full, "g", k).collect()[0]
    assert est["n_in_sketch"] == k
    assert 250 <= est["d_est"] <= 1000  # 500 true, k=32 -> ~±35%
    # below k: sketch is the exact distinct set
    small = spark.createDataFrame(
        [("h", f"x{i}") for i in range(10)], "g string, k string"
    )
    es = kmv_distinct_estimate(kmv_sketch(small, "g", "k", k=k), "g", k)
    r = es.collect()[0]
    assert (r["n_in_sketch"], r["d_est"]) == (10, 10.0)
    with pytest.raises(ValueError):
        kmv_sketch(small, "g", "k", k=0)


def test_normalization_report_ladder(spark):
    # X114: constructed corpus where each rung reveals one more dup
    from c3s_sm_spark.operators.dedup_text import (
        NORM_LEVELS,
        normalization_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "Hello World"),
            (2, "Hello  World"),    # ws rung collapses into 1
            (3, "hello world"),     # lower_ws rung collapses into 1-3
            (4, "hello, world"),    # alnum rung: "hello world" too
            (5, "other"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["form"]: (r["n_docs"], r["n_distinct"], r["dup_groups"], r["redundant"])
        for r in normalization_report(docs).collect()
    }
    assert set(rows) == set(NORM_LEVELS)
    assert rows["raw"] == (5, 5, 0, 0)
    assert rows["ws"] == (5, 4, 1, 1)        # 1+2 merge
    assert rows["lower_ws"] == (5, 3, 1, 2)  # 1+2+3 merge
    assert rows["alnum"] == (5, 2, 1, 3)     # "hello, world" joins too


def test_incremental_exact_dedup_ledger(spark, tmp_path):
    # X115: cross-batch dedup with a persisted fingerprint ledger —
    # first arrival wins, rerun is idempotent, ledger never re-admits
    from c3s_sm_spark.operators.dedup_text import incremental_exact_dedup
    from c3s_sm_spark.sources.tableio import SnapshotTable

    ledger = SnapshotTable(str(tmp_path / "fps"))
    b1 = spark.createDataFrame(
        [(10, "alpha"), (11, "beta"), (12, "alpha")],
        "doc_id long, text string",
    )
    s1 = incremental_exact_dedup(ledger, b1)
    assert sorted((r["doc_id"], r["text"]) for r in s1.collect()) == [
        (10, "alpha"), (11, "beta"),  # within-batch min-id wins
    ]
    # batch 2: a dup of b1 content with a SMALLER id is still rejected
    # (first arrival wins), genuinely new content admitted
    b2 = spark.createDataFrame(
        [(1, "alpha"), (20, "gamma"), (21, "gamma")],
        "doc_id long, text string",
    )
    s2 = incremental_exact_dedup(ledger, b2)
    assert sorted((r["doc_id"], r["text"]) for r in s2.collect()) == [
        (20, "gamma"),
    ]
    # idempotent rerun: zero survivors, ledger unchanged
    head_before = ledger.head()
    s2b = incremental_exact_dedup(ledger, b2)
    assert s2b.count() == 0
    assert ledger.head() == head_before  # empty append skipped
    # ledger holds exactly the 3 distinct contents
    assert ledger.read(spark).count() == 3


def test_quantization_audit_exact_and_guards(spark):
    # X116: hand-checkable 127-level quantization on tiny vectors
    from pyspark.sql import Row
    from c3s_sm_spark.operators.similarity import quantization_audit

    rows = [
        Row(g="a", embedding=[1.0, -1.0]),   # q=[1000,-1000], m=1000
        Row(g="a", embedding=[0.0, 0.0]),    # zero vec: m clamps to 1, err 0
        Row(g="a", embedding=None),          # skipped
        Row(g="b", embedding=[0.5, 0.25]),   # q=[500,250], m=500
    ]
    df = spark.createDataFrame(rows, "g string, embedding array<double>")
    got = {
        r["g"]: (r["n_vecs"], r["sum_err_q"], r["max_err_q"])
        for r in quantization_audit(df, group_col="g").collect()
    }

    def err(q, m):
        b = ((q + m) * 127) // (2 * m)
        return abs(q + m - ((b * 2 * m) // 127))

    # zero vector contributes 0 error by definition (m=0 special case)
    a_err = err(1000, 1000) + err(-1000, 1000)
    b_err = err(500, 500) + err(250, 500)
    assert got["a"] == (2, a_err, max(err(1000, 1000), err(-1000, 1000)))
    assert got["b"] == (1, b_err, max(err(500, 500), err(250, 500)))
    # the ±max endpoints quantize exactly (codes 0 and L)
    assert err(1000, 1000) == 0 and err(-1000, 1000) == 0
    # a mid value carries at most half a step: step = 2m/L
    assert 0 <= err(250, 500) <= (2 * 500) // 127 + 1


def test_phrase_occurrences_overlap_repeats_and_k3(spark):
    # X117: overlapping matches, repeated-token phrases, k=3 chains
    from c3s_sm_spark.operators.textstats import phrase_occurrences

    docs = spark.createDataFrame(
        [
            (1, "a b c a b"),        # "a b" twice
            (2, "x x x"),            # "x x" OVERLAPS: 2 occurrences
            (3, "a b c d"),          # "a b c" once
            (4, "b a"),              # reversed: no match
            (5, ""),                 # empty
        ],
        "doc_id long, text string",
    )
    ab = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_occurrences(docs, ["a", "b"]).collect()
    }
    assert ab == {1: 2, 3: 1}
    xx = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_occurrences(docs, ["x", "x"]).collect()
    }
    assert xx == {2: 2}  # overlapping counted
    abc = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_occurrences(docs, ["a", "b", "c"]).collect()
    }
    assert abc == {1: 1, 3: 1}
    # single-token phrase degenerates to term occurrence count
    a1 = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_occurrences(docs, ["a"]).collect()
    }
    assert a1 == {1: 2, 3: 1, 4: 1}
    with pytest.raises(ValueError):
        phrase_occurrences(docs, [])


def test_km_pieces_and_curve(spark):
    # X118: constructed cohort with conversions, censoring, pre-start
    # end events that must NOT count
    import datetime as dt
    from c3s_sm_spark.operators.timeseries import km_curve, km_pieces

    T = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    rows = [
        # u1: signup d0, purchase d2 -> event at 2
        (1, T, "signup"), (1, T + 2 * day, "purchase"),
        # u2: PURCHASE BEFORE SIGNUP (must not count), signup d1, no
        # purchase after -> censored at horizon (d10) - t0 = 9
        (2, T, "purchase"), (2, T + day, "signup"),
        # u3: signup d0, purchase same day -> event at 0
        (3, T, "signup"), (3, T + dt.timedelta(hours=3), "purchase"),
        # u4: no signup at all -> excluded entirely
        (4, T + 5 * day, "purchase"),
        # horizon pin: latest event in the table at d10
        (5, T + 10 * day, "view"), (5, T, "signup"),
    ]
    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in rows], "user_id long, ts timestamp, event_type string"
    )
    got = {
        r["d"]: (r["n_events"], r["n_censored"])
        for r in km_pieces(df, "user_id").collect()
    }
    # u1 converts at 2; u3 at 0; u2 censored at 9; u5 censored at 10
    assert got == {0: (1, 0), 2: (1, 0), 9: (0, 1), 10: (0, 1)}
    curve = dict(km_curve(km_pieces(df, "user_id")))
    # 4 at risk: S(0)=0.75; S(2)=0.75*(1-1/3)=0.5; censoring flat
    assert curve[0] == pytest.approx(0.75)
    assert curve[2] == pytest.approx(0.5)
    assert curve[10] == pytest.approx(0.5)


def test_bootstrap_pieces_deterministic_and_sane(spark):
    # X119: parallelism/re-ingestion invariance; weights mean ~1;
    # CI brackets the true mean; guards
    from c3s_sm_spark.operators.sampling import bootstrap_pieces

    df = spark.createDataFrame(
        [(i, 100 + (i * 37) % 50) for i in range(2000)], "k long, v long"
    )
    a = sorted(map(tuple, bootstrap_pieces(df, "k", "v", 32).collect()))
    b = sorted(
        map(tuple, bootstrap_pieces(df.repartition(13), "k", "v", 32).collect())
    )
    assert a == b and len(a) == 32
    true_mean = sum(100 + (i * 37) % 50 for i in range(2000)) / 2000
    means = [wsum / n for _, n, wsum in a if n]
    # Binomial(4, 1/4) weights: n_eff per resample ~ 2000 +- ~5%
    assert all(1600 <= n <= 2400 for _, n, _ in a)
    lo, hi = min(means), max(means)
    assert lo <= true_mean <= hi
    assert hi - lo < 5  # tight CI for a 2000-row low-variance corpus
    # salt changes the draw
    s = sorted(map(tuple, bootstrap_pieces(df, "k", "v", 32, salt="x").collect()))
    assert s != a
    with pytest.raises(ValueError):
        bootstrap_pieces(df, "k", "v", n_resamples=1)
    with pytest.raises(ValueError):
        bootstrap_pieces(df, "k", "v", trials=1)


def test_rank_sum_pieces_vs_scipy_formula(spark):
    # X120: brute-force average-rank computation incl. heavy ties;
    # partitioning invariance of the two-phase cumsum
    from c3s_sm_spark.operators.timeseries import rank_sum_pieces

    va = [1, 2, 2, 3, 10, 10, 10]
    vb = [2, 2, 4, 10, 11]
    rows = [("a", v) for v in va] + [("b", v) for v in vb]
    df = spark.createDataFrame(rows, "g string, v long")
    r = rank_sum_pieces(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (len(va), len(vb))
    # brute force: average ranks over the pooled multiset
    pooled = sorted(va + vb)
    import collections
    first = {}
    cnt = collections.Counter(pooled)
    pos = 1
    for v in sorted(cnt):
        first[v] = pos
        pos += cnt[v]
    rs2 = sum(2 * first[v] + cnt[v] - 1 for v in va)
    assert r["rs2_a"] == rs2
    assert r["tie_sum"] == sum(c**3 - c for c in cnt.values())
    # invariance under repartition
    r2 = rank_sum_pieces(df.repartition(11), "g", "v", "a", "b").collect()[0]
    assert tuple(r) == tuple(r2)
    # identical distributions -> U approx n_a*n_b/2
    u = r["rs2_a"] / 2 - len(va) * (len(va) + 1) / 2
    assert 0 <= u <= len(va) * len(vb)


def test_ks_pieces_vs_brute_force(spark):
    # X121: brute-force ECDF max-gap incl. ties; detects a known shift
    from c3s_sm_spark.operators.timeseries import ks_pieces

    va = [1, 2, 2, 3, 5, 8]
    vb = [4, 5, 6, 6, 9]
    rows = [("a", v) for v in va] + [("b", v) for v in vb]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ks_pieces(df, "g", "v", "a", "b").collect()[0]
    na, nb = len(va), len(vb)
    pts = sorted(set(va + vb))
    d_num = max(
        abs(sum(1 for x in va if x <= t) * nb
            - sum(1 for x in vb if x <= t) * na)
        for t in pts
    )
    assert (r["n_a"], r["n_b"], r["d_num"]) == (na, nb, d_num)
    # shifted sample: D grows to near-max
    vc = [x + 100 for x in vb]
    df2 = spark.createDataFrame(
        [("a", v) for v in va] + [("b", v) for v in vc], "g string, v long"
    )
    r2 = ks_pieces(df2, "g", "v", "a", "b").collect()[0]
    assert r2["d_num"] == na * nb  # fully separated -> D = 1
    # partitioning invariance
    r3 = ks_pieces(df.repartition(9), "g", "v", "a", "b").collect()[0]
    assert tuple(r3) == tuple(r)


def test_chisq_pieces_vs_brute_force(spark):
    # X122: hand-computed margins + exact rational chi2 vs a float
    # reference computation
    from c3s_sm_spark.operators.profile import chisq_pieces

    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 30 + [("b", "y")] * 5
    )
    df = spark.createDataFrame(rows, "r string, c string")
    got = {
        (p["r"], p["c"]): p for p in chisq_pieces(df, "r", "c").collect()
    }
    assert got[("a", "x")]["o"] == 10
    assert got[("a", "x")]["row_total"] == 30
    assert got[("a", "x")]["col_total"] == 40
    assert got[("a", "x")]["n"] == 65
    chi2 = sum(
        (p["o"] * p["n"] - p["row_total"] * p["col_total"]) ** 2
        / (p["n"] * p["row_total"] * p["col_total"])
        for p in got.values()
    )
    # reference: sum (o-e)^2/e with e = r*c/n
    ref = 0.0
    for (r, c), p in got.items():
        e = p["row_total"] * p["col_total"] / p["n"]
        ref += (p["o"] - e) ** 2 / e
    assert chi2 == pytest.approx(ref)
    assert chi2 > 10  # strongly dependent by construction


def test_hll_sketch_merge_matches_rebuild_estimate(spark):
    # X123: merged-batches estimate agrees with the full rebuild
    # within tolerance (union lands in a different internal HLL mode,
    # so bit equality is NOT the contract); re-merge is byte-idempotent
    from c3s_sm_spark.operators.sketches import (
        hll_estimate,
        hll_group_sketch,
        hll_merge,
    )

    items = spark.createDataFrame(
        [("g", f"k{i}") for i in range(3000)], "g string, k string"
    )
    full = hll_group_sketch(items, "g", "k")
    b1 = hll_group_sketch(items.where(F.col("k") < "k5"), "g", "k")
    b2 = hll_group_sketch(items.where(F.col("k") >= "k2"), "g", "k")
    merged = hll_merge(b1.union(b2), "g")
    ef = hll_estimate(full, "g").collect()[0]["d_est"]
    em = hll_estimate(merged, "g").collect()[0]["d_est"]
    assert abs(ef - 3000) / 3000 < 0.05
    assert abs(em - ef) / 3000 < 0.01  # merge ≈ rebuild
    # partitioning changes the partial-merge structure: estimates may
    # drift a few parts in 1e3 but stay within tolerance (the measured
    # caveat in the docstring — exactness is KMV's job)
    again_full = hll_group_sketch(items.repartition(7), "g", "k")
    ea = hll_estimate(again_full, "g").collect()[0]["d_est"]
    assert abs(ea - ef) / 3000 < 0.01
    # re-merge is byte-idempotent
    m = merged.collect()[0]["hll"]
    again = hll_merge(merged.union(merged), "g").collect()[0]["hll"]
    assert bytes(again) == bytes(m)


def test_fuzzy_join_cross_table(spark):
    # X124: exact matches (ed=0), single edits, and non-matches; dup
    # input keys collapse
    from c3s_sm_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [("rod",), ("cold",), ("anvil",), ("rod",)], "k string"
    )
    right = spark.createDataFrame(
        [("row",), ("rod",), ("old",), ("bolt",), ("zzz",)], "k string"
    )
    got = {
        (r["lk"], r["rk"]): r["ed"]
        for r in fuzzy_join(left, right, "k", "k").collect()
    }
    assert got == {
        ("rod", "rod"): 0,
        ("rod", "row"): 1,
        ("cold", "old"): 1,
    }


def test_kmv_set_pieces_exact_below_k_and_estimates(spark):
    # X125: below k the union sketch IS the union, so the pieces are
    # exact set cardinalities; above k the derived estimates land
    # within KMV tolerance; pair frame covers every g1 < g2 pair.
    from c3s_sm_spark.operators.sketches import (
        kmv_set_pieces,
        kmv_setop_estimates,
        kmv_sketch,
    )

    k = 64
    # A = x0..x19, B = x10..x29 (|A|=|B|=20, inter 10, union 30 < k),
    # C = x0..x4 (subset of A, disjoint-ish with B tail)
    rows = (
        [("A", f"x{i}") for i in range(20)]
        + [("B", f"x{i}") for i in range(10, 30)]
        + [("C", f"x{i}") for i in range(5)]
    )
    items = spark.createDataFrame(rows * 2, "g string, k string")
    pieces = kmv_set_pieces(kmv_sketch(items, "g", "k", k=k), "g", k=k)
    got = {(r["g1"], r["g2"]): r for r in pieces.collect()}
    assert set(got) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = got[("A", "B")]
    assert (
        ab["n_union_sk"], ab["n_common_k"], ab["n_a_k"], ab["n_b_k"]
    ) == (30, 10, 20, 20)
    assert ab["vk_union"] == ""  # union < k: no k-th digest
    ac = got[("A", "C")]
    assert (
        ac["n_union_sk"], ac["n_common_k"], ac["n_a_k"], ac["n_b_k"]
    ) == (20, 5, 20, 5)
    # below-k estimates are exact: d_union=|A∪B|, d_inter=|A∩B|
    est = {
        (r["g1"], r["g2"]): r
        for r in kmv_setop_estimates(pieces, k=k).collect()
    }
    eab = est[("A", "B")]
    assert eab["d_union"] == 30.0
    assert abs(eab["d_inter"] - 10.0) < 1e-9
    assert abs(eab["d_a_only"] - 10.0) < 1e-9

    # above k: 400+400 sharing 200 (true union 600, J=1/3)
    big = spark.createDataFrame(
        [("P", f"y{i}") for i in range(400)]
        + [("Q", f"y{i}") for i in range(200, 600)],
        "g string, k string",
    )
    bp = kmv_set_pieces(kmv_sketch(big, "g", "k", k=k), "g", k=k)
    be = kmv_setop_estimates(bp, k=k).collect()[0]
    assert 350 <= be["d_union"] <= 1000  # true 600, k=64 -> ~±25%
    assert 0.15 <= be["jaccard_est"] <= 0.55  # true 1/3
    assert 60 <= be["d_inter"] <= 400  # true 200
    with pytest.raises(ValueError):
        kmv_set_pieces(kmv_sketch(big, "g", "k", k=k), "g", k=0)


def test_block_bootstrap_shares_multiplier_within_block(spark):
    import hashlib

    from pyspark.sql import functions as F

    from c3s_sm_spark.operators.sampling import block_bootstrap_pieces

    # 3 blocks x 4 rows; within a block every row must get the SAME
    # weight, so wsum must equal w_blk * sum(v in block) exactly.
    rows = [(("g"), b, b * 4 + i, 10 + b) for b in range(3) for i in range(4)]
    df = spark.createDataFrame(rows, "k string, blk long, rid long, v long")
    out = {
        r["b"]: r.asDict()
        for r in block_bootstrap_pieces(
            df, ["k"], "blk", "v", n_resamples=4, trials=4
        ).collect()
    }

    def w_of(b, blk):
        w = 0
        for t in range(4):
            h = hashlib.md5(f"{b}:{t}:g|{blk}".encode()).hexdigest()
            w += 1 if h[:4] < "4000" else 0
        return w

    for b in range(4):
        wexp = {blk: w_of(b, blk) for blk in range(3)}
        assert out[b]["n_eff"] == sum(4 * w for w in wexp.values())
        assert out[b]["wsum"] == sum(
            w * 4 * (10 + blk) for blk, w in wexp.items()
        )


def test_block_bootstrap_mean_one_and_invariance(spark):
    from c3s_sm_spark.operators.sampling import block_bootstrap_pieces

    rows = [
        ("g", i // 5, i, 100) for i in range(500)  # 100 blocks of 5
    ]
    df = spark.createDataFrame(rows, "k string, blk long, rid long, v long")
    out = block_bootstrap_pieces(
        df, ["k"], "blk", "v", n_resamples=16, trials=4
    ).collect()
    assert len(out) == 16
    # multipliers average ~1: total effective n across resamples near 500
    mean_neff = sum(r["n_eff"] for r in out) / 16
    assert 400 <= mean_neff <= 600
    # determinism under repartitioning (pure expression of the row)
    out2 = block_bootstrap_pieces(
        df.repartition(13), ["k"], "blk", "v", n_resamples=16, trials=4
    ).collect()
    assert {(r["b"], r["n_eff"], r["wsum"]) for r in out} == {
        (r["b"], r["n_eff"], r["wsum"]) for r in out2
    }
    import pytest as _pt

    with _pt.raises(ValueError):
        block_bootstrap_pieces(df, ["k"], "blk", "v", n_resamples=1)


def test_goodturing_pieces_brute_force(spark):
    from c3s_sm_spark.operators.textstats import (
        goodturing_pieces,
        goodturing_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a b b c d e", "s1"),   # c,d,e hapax; b twice
            (2, "x x y", "s2"),
            (3, "   ", "s2"),               # whitespace-only: excluded
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r.asDict()
        for r in goodturing_pieces(docs, group_col="source").collect()
    }
    assert out["s1"] == {
        "source": "s1", "n_tokens": 8, "n_types": 5, "n1": 3, "n2": 1,
    }
    assert out["s2"] == {
        "source": "s2", "n_tokens": 3, "n_types": 2, "n1": 1, "n2": 1,
    }
    s = {
        r["source"]: r.asDict()
        for r in goodturing_scores(
            goodturing_pieces(docs, group_col="source")
        ).collect()
    }
    assert s["s1"]["unseen_mass"] == pytest.approx(3 / 8)
    assert s["s1"]["coverage"] == pytest.approx(5 / 8)
    # chao1 = V + n1(n1-1)/(2(n2+1)) = 5 + 3*2/4 = 6.5
    assert s["s1"]["chao1"] == pytest.approx(6.5)


def test_goodturing_saturated_vs_open_vocabulary(spark):
    # a slice where every type repeats (saturated: unseen_mass = 0)
    # vs a slice of all-distinct tokens (open: unseen_mass = 1)
    sat = " ".join(f"t{i}" for i in range(50) for _ in range(2))
    opn = " ".join(f"u{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, sat, "sat"), (2, opn, "open")],
        "doc_id long, text string, source string",
    )
    from c3s_sm_spark.operators.textstats import (
        goodturing_pieces,
        goodturing_scores,
    )

    s = {
        r["source"]: r.asDict()
        for r in goodturing_scores(
            goodturing_pieces(docs, group_col="source")
        ).collect()
    }
    assert s["sat"]["unseen_mass"] == 0.0 and s["sat"]["chao1"] == 50.0
    assert s["open"]["unseen_mass"] == 1.0
    # chao1 for all-hapax: V + V(V-1)/2 — the estimator says "barely
    # scratched": 100 + 4950
    assert s["open"]["chao1"] == pytest.approx(5050.0)


def test_rle_profile_brute_force(spark):
    import re

    from c3s_sm_spark.operators.textstats import rle_profile

    docs = spark.createDataFrame(
        [
            (0, "a a a b b c"),
            (1, "x"),
            (2, ""),
            (3, "   "),
            (4, "go go go go stop go go"),
            (5, "no repeats at all here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in rle_profile(docs).collect()}
    for d in docs.collect():
        ws = (
            re.sub(r"\s+", " ", d["text"].strip()).split(" ")
            if d["text"].strip()
            else []
        )
        runs = mx = cur = 0
        prev = None
        for w in ws:
            if w == prev:
                cur += 1
            else:
                runs += 1
                cur = 1
            mx = max(mx, cur)
            prev = w
        g = got[d["doc_id"]]
        assert (
            g["n_tokens"], g["n_runs"], g["max_run"], g["rle_excess"]
        ) == (len(ws), runs, mx, len(ws) - runs), d["doc_id"]
    # the planted repeats
    assert got[0]["max_run"] == 3 and got[0]["rle_excess"] == 3
    assert got[4]["max_run"] == 4 and got[4]["n_runs"] == 3
    assert got[5]["rle_excess"] == 0
    assert got[2]["n_tokens"] == 0 and got[2]["max_run"] == 0


def test_vocab_drift_brute_force(spark):
    import collections
    import re

    from c3s_sm_spark.operators.textstats import vocab_drift

    rows = [
        (i, f"tok{i % 7} tok{(i + 1) % 7} common shift{i // 10}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = vocab_drift(docs, bucket_size=10)
    sets = collections.defaultdict(set)
    for i, t in rows:
        sets[i // 10].update(re.sub(r"\s+", " ", t.strip()).split(" "))
    exp = {
        b: (len(sets[b]), len(sets[b + 1]), len(sets[b] & sets[b + 1]))
        for b in sorted(sets)
        if b + 1 in sets
    }
    got = {
        r["bucket"]: (r["n_prev"], r["n_next"], r["overlap"])
        for r in out.collect()
    }
    assert got == exp
    # the shiftN token changes every bucket, the rest are shared
    assert all(ov < na for na, _, ov in got.values())


def test_quantile_normalize_brute_force(spark):
    from c3s_sm_spark.operators.sampling import quantile_normalize

    rows = [
        # group a: low values (with ties); group b: shifted high
        ("a", 1, 100), ("a", 1, 101), ("a", 2, 102), ("a", 5, 103),
        ("a", 5, 104), ("b", 10, 200), ("b", 11, 201), ("b", 11, 202),
        ("b", 20, 203),
    ]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    out = quantile_normalize(df, "g", "v", "id", n_partitions=4)
    got = {(r["g"], r["id"]): (r["rn"], r["k"], r["nv"]) for r in out.collect()}
    pool = sorted((v, i) for _, v, i in rows)
    n = len(pool)
    by_g = {}
    for g, v, i in rows:
        by_g.setdefault(g, []).append((v, i))
    exp = {}
    for g, vals in by_g.items():
        vs = sorted(vals)
        ng = len(vs)
        for r, (v, i) in enumerate(vs, start=1):
            k = -(-r * n // ng)
            exp[(g, i)] = (r, k, pool[k - 1][0])
    assert got == exp
    # marginals normalized: each group's nv multiset is the pooled
    # order statistics at its own rank grid — ranks map monotonically
    assert got[("a", 104)][2] >= got[("a", 100)][2]
    # parallelism invariance
    out2 = quantile_normalize(
        df.repartition(7), "g", "v", "id", n_partitions=2
    )
    assert {
        (r["g"], r["id"]): (r["rn"], r["k"], r["nv"]) for r in out2.collect()
    } == exp


def test_group_quantiles_exact_matches_percentile(spark):
    """X12's scale-right exact quantile (count-frame decomposition, no
    per-group value buffering) must equal Spark's buffered exact
    `percentile` bit-for-bit — ties, single-row groups, edge
    ps in {0, 1}, NULL values ignored, all-NULL groups absent."""
    import random

    from pyspark.sql import functions as F

    from c3s_sm_spark.operators.sampling import group_quantiles_exact

    random.seed(42)
    rows = []
    for g in range(9):
        vals = [round(random.uniform(-5, 5), 1) for _ in range(4)]
        for _ in range(random.randint(1, 150)):
            rows.append((g, random.choice([None] + vals)))
    rows += [(100, None), (100, None)]  # all-NULL group
    rows += [(101, 7.25)]  # single-row group
    df = spark.createDataFrame(rows, "g int, v double")
    ps = [0.0, 0.1, 0.5, 0.75, 0.9, 1.0]
    names = [f"p{i}" for i in range(len(ps))]
    got = {
        r["g"]: tuple(r[n] for n in names)
        for r in group_quantiles_exact(df, ["g"], "v", ps, names).collect()
    }
    exp_rows = df.groupBy("g").agg(
        *[F.percentile("v", p).alias(n) for p, n in zip(ps, names)]
    ).collect()
    for r in exp_rows:
        if r[names[0]] is None:
            assert r["g"] not in got  # all-NULL group emits no row
            continue
        assert got[r["g"]] == tuple(r[n] for n in names), r["g"]
    # parallelism invariance (identical bits at different layouts)
    got2 = {
        r["g"]: tuple(r[n] for n in names)
        for r in group_quantiles_exact(
            df.repartition(13), ["g"], "v", ps, names
        ).collect()
    }
    assert got2 == got
    with pytest.raises(ValueError, match="ps"):
        group_quantiles_exact(df, ["g"], "v", [])
    with pytest.raises(ValueError, match="quantiles"):
        group_quantiles_exact(df, ["g"], "v", [1.5])


def test_bigram_lm_perplexity_reference(spark):
    """X184 CCNet-style bigram-LM perplexity: add-alpha model trained on
    the corpus itself, every doc scored — pinned against a pure-Python
    reference (same smoothing, same backoff), including unseen-bigram
    and unseen-w1 backoff via a held-out scoring frame and the n_big=0
    contract for short docs."""
    import math
    from collections import Counter

    from c3s_sm_spark.operators.textstats import bigram_lm_perplexity

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat"),
        (3, "a dog ran fast"),
        (4, "single"),
        (5, ""),
        (6, "the cat the cat the cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    alpha = 0.5

    def ref(train, score):
        pairs = Counter()
        left = Counter()
        for _, t in train:
            ws = t.split()
            for i in range(len(ws) - 1):
                pairs[(ws[i], ws[i + 1])] += 1
                left[ws[i]] += 1
        V = len(left)
        out = {}
        for d, t in score:
            ws = t.split()
            n = max(0, len(ws) - 1)
            if n == 0:
                out[d] = (0, None, None)
                continue
            lp = 0.0
            for i in range(len(ws) - 1):
                num = pairs.get((ws[i], ws[i + 1]), 0) + alpha
                den = left.get(ws[i], 0) + alpha * V
                lp += math.log(num / den)
            out[d] = (n, lp, math.exp(-lp / n))
        return out

    exp = ref(docs, docs)
    got = {
        r["doc_id"]: (r["n_big"], r["logprob"], r["ppl"])
        for r in bigram_lm_perplexity(df, alpha=alpha).collect()
    }
    assert set(got) == set(exp)
    for d in exp:
        en, el, ep = exp[d]
        gn, gl, gp = got[d]
        assert gn == en, d
        if el is None:
            assert gl is None and gp is None, d
        else:
            assert gl == pytest.approx(el, rel=1e-12), d
            assert gp == pytest.approx(ep, rel=1e-12), d
    # a constant-bigram doc must be the LEAST perplexing, gibberish the
    # most (sanity on the ranking the filter actually uses)
    assert got[6][2] < got[1][2]
    # held-out scoring: unseen bigrams and unseen w1 back off
    held = [(10, "the cat flew"), (11, "zz qq")]
    hdf = spark.createDataFrame(held, "doc_id long, text string")
    exp_h = ref(docs, held)
    got_h = {
        r["doc_id"]: (r["n_big"], r["logprob"], r["ppl"])
        for r in bigram_lm_perplexity(hdf, alpha=alpha, train=df).collect()
    }
    for d in exp_h:
        assert got_h[d][0] == exp_h[d][0]
        assert got_h[d][1] == pytest.approx(exp_h[d][1], rel=1e-12), d
    with pytest.raises(ValueError, match="alpha"):
        bigram_lm_perplexity(df, alpha=0.0)


def test_gopher_rules_golden(spark):
    """X187 Gopher rule signals pinned on hand-computed docs covering
    each rule's trip wire: bullets, ellipses, symbols, short docs,
    empty docs (fail closed), and a passing doc."""
    from c3s_sm_spark.operators.textstats import gopher_rules

    good = " ".join(["the quick brown fox and that dog have fun with it"] * 8)
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "short doc"),
            (3, ""),
            (4, "- bullet one\n- bullet two\nnormal line"),
            (5, "### ### " + "word " * 60 + "tail..."),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(docs, min_words=20).collect()
    }
    assert got[1]["n_words"] == 88 and got[1]["pass_gopher"] is True
    assert got[1]["stop_hits"] == 5
    assert got[1]["mean_wlen"] == pytest.approx(3.5455)
    assert got[2]["pass_gopher"] is False  # below min_words
    assert got[3]["n_words"] == 0 and got[3]["mean_wlen"] is None
    assert got[3]["pass_gopher"] is False  # empty fails CLOSED
    assert got[4]["bullet_ratio"] == pytest.approx(0.6667)
    assert got[4]["alpha_word_ratio"] == pytest.approx(0.75)
    assert got[5]["symbol_ratio"] == pytest.approx(0.1111)
    assert got[5]["ellipsis_ratio"] == 1.0
    assert got[5]["pass_gopher"] is False  # symbols + ellipsis + stops


def test_c4_rules_golden(spark):
    """X188 C4 rule signals pinned on docs covering each drop: braces,
    lorem ipsum, javascript, short/terminal lines, empty fail-closed."""
    from c3s_sm_spark.operators.textstats import c4_rules

    docs = spark.createDataFrame(
        [
            (1, "This is a proper sentence. And another one follows it! A third one?"),
            (2, "function() { return 1; }"),
            (3, "Lorem ipsum dolor sit amet. More filler text here. And more."),
            (4, "short\nEnable JavaScript to view this page. Thanks. Ok."),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in c4_rules(docs).collect()}
    assert got[1]["pass_c4"] is True and got[1]["n_sentences"] == 3
    assert got[1]["n_terminal_lines"] == 1 and got[1]["n_short_lines"] == 0
    assert got[2]["n_brace_lines"] == 1 and got[2]["pass_c4"] is False
    assert got[3]["has_lorem"] is True and got[3]["pass_c4"] is False
    assert got[4]["has_javascript"] is True and got[4]["n_short_lines"] == 1
    assert got[4]["n_lines"] == 2 and got[4]["pass_c4"] is False
    assert got[5]["n_sentences"] == 0 and got[5]["pass_c4"] is False


def test_rules_quote_the_text_column(spark):
    """gopher_rules and c4_rules interpolate the text column into SQL
    lambdas: a column named ``page text`` must give the same signals
    as one named ``text``."""
    from c3s_sm_spark.operators.textstats import c4_rules, gopher_rules

    docs = spark.createDataFrame(
        [
            (1, " ".join(["the quick brown fox and that dog"] * 4) + "..."),
            (2, "- bullet one\n- bullet two\nA normal line ends here."),
            (3, "function() { return 1; }"),
        ],
        "doc_id long, text string",
    )
    spaced = docs.withColumnRenamed("text", "page text")
    for rules in (gopher_rules, c4_rules):
        exp = sorted(rules(docs).collect())
        assert sorted(rules(spaced, text_col="page text").collect()) == exp


def test_dsir_scores_reference(spark):
    """X185 DSIR hashed-ngram importance scores pinned against a pure-
    Python reference: same xxhash64 bucketing (read back from Spark so
    the hash itself is shared), same add-alpha distributions, same
    unseen-bucket floors; target-like docs must outscore off-target."""
    import math

    from pyspark.sql import functions as F

    from c3s_sm_spark.operators.textstats import dsir_scores

    raw = [
        (1, "the cat sat on the mat"),
        (2, "stock market prices fell hard today"),
        (3, "the cat ran"),
        (4, ""),
    ]
    tgt = [
        (100, "the cat sat"),
        (101, "a cat ran on the mat"),
    ]
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(tgt, "doc_id long, text string")
    B, A = 64, 0.5

    # shared hash: evaluate xxhash64 through Spark for every feature
    def featurize(docs):
        out = {}
        for d, t in docs:
            ws = t.split()
            fs = ws + [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
            out[d] = fs
        return out

    all_feats = sorted(
        {f for fs in featurize(raw + tgt).values() for f in fs}
    )
    hdf = spark.createDataFrame([(f,) for f in all_feats], "f string")
    hmap = {
        r["f"]: r["b"]
        for r in hdf.select(
            "f", F.pmod(F.xxhash64("f"), F.lit(B)).alias("b")
        ).collect()
    }

    def dist(docs):
        cnt: dict = {}
        n = 0
        for fs in featurize(docs).values():
            for f in fs:
                cnt[hmap[f]] = cnt.get(hmap[f], 0) + 1
                n += 1
        return cnt, n

    ct, nt = dist(tgt)
    cr, nr = dist(raw)
    exp = {}
    for d, fs in featurize(raw).items():
        if not fs:
            exp[d] = (0, None)
            continue
        s = 0.0
        for f in fs:
            b = hmap[f]
            pt = (ct.get(b, 0) + A) / (nt + A * B)
            pr = (cr.get(b, 0) + A) / (nr + A * B)
            s += math.log(pt / pr)
        exp[d] = (len(fs), s)
    got = {
        r["doc_id"]: (r["n_feat"], r["dsir_score"])
        for r in dsir_scores(rdf, tdf, n_buckets=B, alpha=A).collect()
    }
    assert set(got) == set(exp)
    for d in exp:
        assert got[d][0] == exp[d][0], d
        if exp[d][1] is None:
            assert got[d][1] is None
        else:
            assert got[d][1] == pytest.approx(exp[d][1], rel=1e-12), d
    # ranking sanity: cat-domain docs beat the finance doc
    per = {d: got[d][1] / got[d][0] for d in (1, 2, 3)}
    assert per[1] > per[2] and per[3] > per[2]
    with pytest.raises(ValueError, match="alpha"):
        dsir_scores(rdf, tdf, alpha=0)
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_scores(rdf, tdf, n_buckets=1)


def test_trending_tokens_brute_force(spark):
    import collections
    import re

    from c3s_sm_spark.operators.textstats import trending_tokens

    rows = [
        # vocabulary rotates so ranks genuinely move between buckets
        (i, " ".join(
            [f"w{j}" for j in range(i % 5)]
            + ["hot"] * (3 if i >= 20 else 1)
            + ["base base"]
        ))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = trending_tokens(docs, bucket_size=10, top_k=4)
    cnts = collections.defaultdict(collections.Counter)
    for i, t in rows:
        cnts[i // 10].update(re.sub(r"\s+", " ", t.strip()).split(" "))
    exp = {}
    for b in sorted(cnts):
        if b - 1 not in cnts:
            continue
        order = sorted(cnts[b].items(), key=lambda kv: (-kv[1], kv[0]))
        porder = sorted(cnts[b - 1].items(), key=lambda kv: (-kv[1], kv[0]))
        pranks = {t: (i + 1, c) for i, (t, c) in enumerate(porder)}
        for r, (t, c) in enumerate(order, start=1):
            if r <= 4:
                pr, pc = pranks.get(t, (-1, 0))
                exp[(b, t)] = (c, r, pc, pr)
    got = {
        (r["bucket"], r["token"]): (
            r["cnt"], r["rnk"], r["prev_cnt"], r["prev_rank"]
        )
        for r in out.collect()
    }
    assert got == exp
    # "hot" rises into the top ranks after doc 20
    assert got[(2, "hot")][1] < got[(2, "hot")][3]


def test_burst_detect_reference(spark):
    import collections
    import math

    from c3s_sm_spark.operators.textstats import burst_detect

    rows = []
    i = 0
    for b in range(8):
        for d in range(10):
            text = "alpha beta gamma delta"
            if b in (4, 5):
                text += " boom boom boom boom boom"
            elif d == 0:
                text += " boom"  # base-rate presence outside the burst
            rows.append((i, text))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = burst_detect(docs, bucket_size=10, min_count=3)
    got = sorted(
        (r["token"], r["start_bucket"], r["end_bucket"], r["n_bursty"],
         round(r["weight"], 9))
        for r in out.collect()
    )

    # pure-Python reference: identical automaton, identical formulas
    cnts = collections.defaultdict(collections.Counter)
    for j, t in rows:
        cnts[j // 10].update(t.split(" "))
    buckets = sorted(cnts)
    nb = len(buckets)
    ns = {b: sum(cnts[b].values()) for b in buckets}
    n_tot = sum(ns.values())
    vocab = collections.Counter()
    for b in buckets:
        vocab.update(cnts[b])

    def cost(k, n, p):
        return -(
            math.lgamma(n + 1) - math.lgamma(k + 1)
            - math.lgamma(n - k + 1)
            + k * math.log(p) + (n - k) * math.log1p(-p)
        )

    exp = []
    for tok, ktot in vocab.items():
        if ktot < 3:
            continue
        p0 = ktot / n_tot
        p1 = min(2.0 * p0, 1.0 - 1e-9)
        toll = math.log(nb)
        INF = float("inf")
        d0, d1 = 0.0, INF
        back, c0s, c1s = [], [], []
        for b in buckets:
            k, n = cnts[b][tok], ns[b]
            c0, c1 = cost(k, n, p0), cost(k, n, p1)
            c0s.append(c0)
            c1s.append(c1)
            f0, b0 = (d0, 0) if d0 <= d1 else (d1, 1)
            e1 = d0 + toll
            f1, b1 = (d1, 1) if d1 <= e1 else (e1, 0)
            back.append((b0, b1))
            d0, d1 = f0 + c0, f1 + c1
        st = 0 if d0 <= d1 else 1
        states = []
        for t in range(nb - 1, -1, -1):
            states.append(st)
            st = back[t][st]
        states.reverse()
        start = None
        for t, s_ in enumerate(states + [0]):
            if s_ == 1 and start is None:
                start = t
            if s_ == 0 and start is not None:
                exp.append(
                    (tok, buckets[start], buckets[t - 1], t - start,
                     round(sum(c0s[x] - c1s[x]
                               for x in range(start, t)), 9))
                )
                start = None
    assert got == sorted(exp)
    # exactly the planted burst, nothing else
    assert got == [("boom", 4, 5, 2, got[0][4])] and got[0][4] > 0
    # degenerate single-token corpus: p0 would hit 1.0 and poison every
    # Viterbi cost with NaN without the clamp (ADVICE r4) — must run
    # clean and find no bursts (a constant-rate token never bursts)
    mono = spark.createDataFrame(
        [(j, "solo solo solo") for j in range(40)], "doc_id long, text string"
    )
    assert burst_detect(mono, bucket_size=10, min_count=1).count() == 0


def _sw_ref(A, B, M=2, X=-1, G=-1):
    """Reference Smith-Waterman with the operator's tie rule: best
    score, ties to smallest (i+j), then smallest i."""
    n, m = len(A), len(B)
    H = [[0] * (m + 1) for _ in range(n + 1)]
    best = (0, 0, 0)  # (score, end_i, end_j)
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            s = M if A[i - 1] == B[j - 1] else X
            h = max(0, H[i - 1][j - 1] + s, H[i - 1][j] + G,
                    H[i][j - 1] + G)
            H[i][j] = h
            if h > best[0] or (
                h == best[0] and h > 0
                and (i + j, i) < (best[1] + best[2], best[1])
            ):
                best = (h, i, j)
    return best


def test_local_align_pairs_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.dedup_text import local_align_pairs

    docs_data = [
        (0, "the quick brown fox jumps over the lazy dog near the "
            "river bank today"),
        (1, "yesterday the quick brown wolf jumps over the lazy dog "
            "near a river"),
        (2, "completely unrelated text about spark query planning"),
        (3, "the quick brown fox jumps over the lazy dog near the "
            "river bank today"),
        (4, ""),
    ]
    docs = spark.createDataFrame(docs_data, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(5) if a < b],
        "id_a long, id_b long",
    )
    got = {
        (r["id_a"], r["id_b"]): (
            r["n_a"], r["n_b"], r["score"], r["end_a"], r["end_b"]
        )
        for r in local_align_pairs(docs, pairs).collect()
    }
    texts = {i: (t.split() if t else []) for i, t in docs_data}
    for (a, b), (na, nb, sc, ea, eb) in got.items():
        assert (na, nb) == (len(texts[a]), len(texts[b]))
        assert (sc, ea, eb) == _sw_ref(texts[a], texts[b]), (a, b)
    # exact duplicate: perfect chain, score 2*n ending at (n, n)
    n0 = len(texts[0])
    assert got[(0, 3)][2:] == (2 * n0, n0, n0)
    # paraphrased reuse scores high but below the exact dup
    assert 10 < got[(0, 1)][2] < 2 * n0
    # unrelated: no alignment survives the mismatch penalty
    assert got[(0, 2)][2] <= 4
    # empty doc: score 0
    assert got[(0, 4)][2] == 0

    # fuzz vs reference (small alphabet forces heavy tie traffic)
    rng = np.random.default_rng(179)
    rows, ps = [], []
    for t in range(40):
        A = [str(x) for x in rng.integers(0, 8, rng.integers(1, 25))]
        B = [str(x) for x in rng.integers(0, 8, rng.integers(1, 25))]
        rows += [(2 * t, " ".join(A)), (2 * t + 1, " ".join(B))]
        ps.append((2 * t, 2 * t + 1))
    d2 = spark.createDataFrame(rows, "doc_id long, text string")
    p2 = spark.createDataFrame(ps, "id_a long, id_b long")
    texts2 = {i: t.split() for i, t in rows}
    for r in local_align_pairs(d2, p2).collect():
        ref = _sw_ref(texts2[r["id_a"]], texts2[r["id_b"]])
        assert (r["score"], r["end_a"], r["end_b"]) == ref, (
            r["id_a"], r["id_b"]
        )


def test_texttiling_pieces_reference(spark):
    import numpy as np

    from c3s_sm_spark.operators.textstats import texttiling_pieces

    rng = np.random.default_rng(180)
    # two-topic doc: disjoint vocabularies, switch at token 50
    topic_a = [f"alpha{i}" for i in range(6)]
    topic_b = [f"beta{i}" for i in range(6)]
    doc0 = " ".join(
        [topic_a[int(x)] for x in rng.integers(0, 6, 50)]
        + [topic_b[int(x)] for x in rng.integers(0, 6, 50)]
    )
    doc1 = " ".join([topic_a[int(x)] for x in rng.integers(0, 6, 73)])
    docs = spark.createDataFrame(
        [(0, doc0), (1, doc1), (2, "tiny doc"), (3, "")],
        "doc_id long, text string",
    )
    got = {}
    for r in texttiling_pieces(docs, block_tokens=10).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["gap_idx"], r["token_pos"], r["sim"], r["depth"])
        )
    for k in got:
        got[k].sort()

    def ref(ws, w=10):
        from collections import Counter

        blocks = [Counter(ws[i:i + w]) for i in range(0, len(ws), w)]
        if len(blocks) < 2:
            return []
        sims = [
            sum(min(c, blocks[g + 1][t]) for t, c in blocks[g].items())
            for g in range(len(blocks) - 1)
        ]
        out = []
        for g in range(len(sims)):
            lp, i = sims[g], g
            while i > 0 and sims[i - 1] >= lp:
                lp = sims[i - 1]
                i -= 1
            rp, i = sims[g], g
            while i < len(sims) - 1 and sims[i + 1] >= rp:
                rp = sims[i + 1]
                i += 1
            out.append(
                (g, (g + 1) * w, sims[g],
                 (lp - sims[g]) + (rp - sims[g]))
            )
        return out

    assert got[0] == ref(doc0.split())
    assert got[1] == ref(doc1.split())
    assert 2 not in got and 3 not in got  # < 2 blocks: nothing
    # the topic switch (token 50, gap_idx 4) is the deepest valley:
    # the cross-topic block pair shares no vocabulary at all
    d0 = got[0]
    deepest = max(d0, key=lambda x: x[3])
    assert deepest[1] == 50 and deepest[2] == 0
    # the single-topic doc has no comparably deep valley
    assert max(x[3] for x in got[1]) < deepest[3]


def test_lcs_pairs_brute_force(spark):
    import numpy as np

    from c3s_sm_spark.operators.dedup_text import lcs_pairs

    def lcs_ref(A, B):
        n, m = len(A), len(B)
        dp = [[0] * (m + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                dp[i][j] = max(
                    dp[i - 1][j], dp[i][j - 1],
                    dp[i - 1][j - 1] + (1 if A[i - 1] == B[j - 1] else 0),
                )
        return dp[n][m]

    rng = np.random.default_rng(181)
    rows, ps = [], []
    for t in range(40):
        A = [str(x) for x in rng.integers(0, 6, rng.integers(1, 25))]
        B = [str(x) for x in rng.integers(0, 6, rng.integers(1, 25))]
        rows += [(2 * t, " ".join(A)), (2 * t + 1, " ".join(B))]
        ps.append((2 * t, 2 * t + 1))
    # anchors: identical pair, disjoint pair, empty side
    rows += [(100, "a b c d e"), (101, "a b c d e"),
             (102, "x y z"), (103, "")]
    ps += [(100, 101), (100, 102), (100, 103)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame(ps, "id_a long, id_b long")
    texts = {i: (t.split() if t else []) for i, t in rows}
    got = {
        (r["id_a"], r["id_b"]): (r["n_a"], r["n_b"], r["lcs"])
        for r in lcs_pairs(docs, pairs).collect()
    }
    assert len(got) == len(ps)
    for (a, b), (na, nb, lcs) in got.items():
        assert (na, nb) == (len(texts[a]), len(texts[b]))
        assert lcs == lcs_ref(texts[a], texts[b]), (a, b)
    assert got[(100, 101)][2] == 5    # identical
    assert got[(100, 102)][2] == 0    # disjoint vocab
    assert got[(100, 103)][2] == 0    # empty side
    # LCS bounds: never exceeds either length
    assert all(v[2] <= min(v[0], v[1]) for v in got.values())
