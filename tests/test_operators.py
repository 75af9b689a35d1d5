"""Unit tests for the training-data-pipeline operators (dedup,
similarity, text functions, multimodal plumbing) against small
hand-checkable inputs and pure-Python references."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_spark.functions import text as TX
from etl_spark.operators import dedup as DD, multimodal as MM, similarity as SIM

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the mat"),            # exact dup of 1
    (3, "the cat sat on the red mat"),        # near dup of 1
    (4, "completely different words entirely here now"),
    (5, "el gato es un animal que vive en la casa"),
    (6, "短い中文テキスト 一二三"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    groups = {r["keeper_id"]: r["n_dups"] for r in DD.exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # docs 1,2 collapse; keeper is min id
    assert sum(groups.values()) == len(DOCS)


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    sh = DD.shingles(df, "doc_id", "text", n=3).collect()
    assert [(r["id"], r["shingle"]) for r in sh] == [(1, "only two")]


def _py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = t.lower().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_pairs(spark, docs):
    rows = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["shared"] / (r["n_a"] + r["n_b"] - r["shared"]) for r in rows}
    # expected from the pure-python reference
    exp = {}
    for i, (ia, ta) in enumerate(DOCS):
        for ib, tb in DOCS[i + 1:]:
            j = _py_jaccard(ta, tb)
            if j >= 0.5:
                exp[(ia, ib)] = j
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k] - exp[k]) < 1e-9


def test_prefix_filter_is_lossless(spark, docs):
    """Prefix filtering must return the IDENTICAL pair set — on the
    hand-checked fixture and on a boilerplate-heavy corpus (shared
    40-token header: the regime the filter exists for)."""
    for thr in (0.3, 0.5, 0.8):
        on = {tuple(r) for r in DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=thr, prefix_filter=True).collect()}
        off = {tuple(r) for r in DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=thr, prefix_filter=False).collect()}
        assert on == off
        DD.release_caches()
    import random

    rnd = random.Random(7)
    boiler = " ".join(f"tmpl{w}" for w in range(40))
    rows = [
        (i, boiler + " " + " ".join(f"w{rnd.randrange(60)}" for _ in range(6)))
        for i in range(120)
    ]
    bdocs = spark.createDataFrame(rows, ["doc_id", "text"])
    on = {tuple(r) for r in DD.ngram_jaccard_pairs(
        bdocs, "doc_id", "text", threshold=0.6, max_shingle_freq=10_000,
        prefix_filter=True).collect()}
    off = {tuple(r) for r in DD.ngram_jaccard_pairs(
        bdocs, "doc_id", "text", threshold=0.6, max_shingle_freq=10_000,
        prefix_filter=False).collect()}
    assert on == off and len(on) > 0
    DD.release_caches()


def test_minhash_lsh_finds_exact_and_near(spark, docs):
    rows = DD.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1, 2) in pairs  # exact dup always collides in every band
    # LSH candidates are a subset of true-threshold pairs after verify
    full = {(r["id_a"], r["id_b"]) for r in DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert pairs <= full


def _py_simhash(text: str, hash64) -> int:
    votes = [0] * 64
    for tok in set(TX_norm(text).split()):
        h = hash64(tok)
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    sig = 0
    for i in range(64):
        if votes[i] > 0:
            sig |= 1 << i
    return sig


def TX_norm(s: str) -> str:
    return " ".join(s.lower().split())


def test_simhash_matches_python_reference(spark, docs):
    sigs = {r["id"]: r["simhash"] for r in DD.simhash64(docs, "doc_id", "text").collect()}
    # xxhash64 via Spark itself (same seed/impl), one token per row
    toks = sorted({t for _, txt in DOCS for t in TX_norm(txt).split()})
    tdf = spark.createDataFrame([(t,) for t in toks], ["tok"])
    hmap = {r["tok"]: r["h"] for r in tdf.withColumn("h", F.xxhash64("tok")).collect()}
    for doc_id, txt in DOCS:
        exp = _py_simhash(txt, lambda t: hmap[t] & 0xFFFFFFFFFFFFFFFF)
        assert sigs[doc_id] & 0xFFFFFFFFFFFFFFFF == exp, doc_id
    # identical docs -> identical sigs -> hamming 0 pair found
    pairs = DD.simhash_pairs(
        spark.createDataFrame([(k, v) for k, v in sigs.items()], ["id", "simhash"]),
        max_hamming=3,
    ).collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 2 and r["hamming"] == 0 for r in pairs)


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(20, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id: long, embedding: array<float>",
    )
    out = SIM.cosine_topk(df, df.filter(F.col("vec_id") < 3), k=4).collect()
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in out}
    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    for q in range(3):
        scores = (v @ v[q]) / (norms * norms[q])
        order = sorted((i for i in range(20) if i != q), key=lambda i: (-scores[i], i))
        for rank, i in enumerate(order[:4], start=1):
            assert got[(q, rank)] == i


def test_lsh_ann_subset_of_bucket(spark):
    rng = np.random.default_rng(1)
    vecs = rng.normal(size=(50, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id: long, embedding: array<float>",
    )
    out = SIM.lsh_ann_topk(df, df.filter(F.col("vec_id") < 5), k=3, n_bits=4).collect()
    buckets = {i: sum((1 << b) for b in range(4) if vecs[i][b] > 0) for i in range(50)}
    for r in out:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]
        assert r["neighbor_id"] != r["query_id"]


def test_lang_id_heuristic(spark, docs):
    pred = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang")).collect()}
    assert pred[1] == "en"
    assert pred[5] == "es"
    assert pred[6] == "zh"
    assert pred[4] == "und"  # no stopwords from either list


def test_multimodal_decode_plumbing(spark, docs):
    # media_from_text: n_bytes and sha256 metadata match the UTF-8 bytes
    media = {r["media_id"]: r for r in MM.media_from_text(docs, "doc_id", "text").collect()}
    assert len(media) == len(DOCS)
    for doc_id, txt in DOCS:
        assert media[doc_id]["n_bytes"] == len(txt.encode())
        assert media[doc_id]["sha256"] == hashlib.sha256(txt.encode()).hexdigest()
    # decode_features carries media_id / kind / n_bytes through unchanged
    images = MM.synthesize_images(docs, "doc_id")
    meta = {r["media_id"]: (r["kind"], r["n_bytes"]) for r in images.collect()}
    feats = MM.decode_features(images, dim=8).collect()
    assert {r["media_id"]: (r["kind"], r["n_bytes"]) for r in feats} == meta


def test_image_codec_round_trip_pure():
    """Pure-function codec: encode → decode recovers dims and the
    exact pixel sum (PNG), or the frame-header dims (JPEG)."""
    from etl_spark.operators import imagecodec as IC

    for w, h, seed in [(4, 4, 0), (31, 25, 777), (1, 1, 255), (64, 3, 12345)]:
        payload = IC.encode_png(w, h, seed)
        m = IC.decode_image(payload)
        assert (m["format"], m["width"], m["height"]) == ("png", w, h)
        assert m["bit_depth"] == 8 and m["channels"] == 1
        assert m["px_sum"] == sum((seed + i) % 256 for i in range(w * h))
    m = IC.decode_image(IC.encode_jpeg_header(640, 480, channels=3))
    assert (m["format"], m["width"], m["height"], m["channels"]) == (
        "jpeg", 640, 480, 3)
    assert m["px_sum"] is None
    with pytest.raises(ValueError):
        IC.decode_image(b"not an image at all")


def test_synthesize_and_decode_images_spark(spark, docs):
    """End-to-end through mapInPandas: synthesized PNG/JPEG bytes decode
    back to the arithmetic-predicted metadata."""
    media = MM.synthesize_images(docs, "doc_id")
    out = {r["media_id"]: r for r in MM.decode_image_meta(media).collect()}
    assert len(out) == len(DOCS)
    for doc_id, _txt in DOCS:
        r = out[doc_id]
        w, h = 4 + doc_id % 29, 4 + (doc_id * 7) % 23
        assert (r["width"], r["height"]) == (w, h)
        if doc_id % 2 == 0:
            assert r["format"] == "png"
            assert r["px_sum"] == sum((doc_id * 31 + i) % 256 for i in range(w * h))
        else:
            assert r["format"] == "jpeg"
            assert r["px_sum"] is None


def test_decode_features_real_codec(spark, docs):
    """decode_features runs the REAL image codec: feature head is
    [w, h, channels, bit_depth, px_mean]."""
    media = MM.synthesize_images(docs, "doc_id")
    feats = {r["media_id"]: r["feature"]
             for r in MM.decode_features(media, dim=8).collect()}
    for doc_id, _txt in DOCS:
        w, h = 4 + doc_id % 29, 4 + (doc_id * 7) % 23
        f = feats[doc_id]
        assert len(f) == 8
        assert f[0] == float(w) and f[1] == float(h)
        if doc_id % 2 == 0:
            exp_mean = sum((doc_id * 31 + i) % 256 for i in range(w * h)) / (w * h)
            assert abs(f[4] - exp_mean) < 1e-4
        else:
            assert f[4] == -1.0
    # non-image payloads are rejected, not silently featurized
    text_media = MM.media_from_text(docs, "doc_id", "text")
    with pytest.raises(Exception):  # ValueError inside the worker
        MM.decode_features(text_media).collect()


def test_audio_codec_round_trip_pure():
    """Pure-function WAV codec: encode → decode recovers format params
    and the exact PCM sample sum; stdlib `wave` independently opens the
    bytes (spec validity, not self-consistency)."""
    import io
    import wave

    from etl_spark.operators import audiocodec as AC

    for n, rate, seed in [(1, 8000, 0), (50, 12000, 91), (260, 16000, 65535)]:
        payload = AC.encode_wav(n, rate, seed)
        m = AC.decode_wav(payload)
        assert (m["format"], m["sample_rate"], m["channels"], m["bit_depth"]) == (
            "wav", rate, 1, 16)
        assert m["n_samples"] == n
        assert m["duration_us"] == n * 1_000_000 // rate
        assert m["sample_sum"] == sum(
            ((seed + 37 * i) % 65536) - 32768 for i in range(n))
        w = wave.open(io.BytesIO(payload))
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate(),
                w.getnframes()) == (1, 2, rate, n)
    with pytest.raises(ValueError):
        AC.decode_wav(b"RIFFxxxxNOPE")


def test_synthesize_and_decode_audio_spark(spark, docs):
    """End-to-end through mapInPandas: synthesized WAV bytes decode
    back to the arithmetic-predicted metadata and sample sums."""
    media = MM.synthesize_audio(docs, "doc_id")
    out = {r["media_id"]: r for r in MM.decode_audio_meta(media).collect()}
    assert len(out) == len(DOCS)
    for doc_id, _txt in DOCS:
        r = out[doc_id]
        n = 50 + doc_id % 211
        rate = 8000 + (doc_id % 3) * 4000
        assert (r["format"], r["sample_rate"], r["channels"],
                r["bit_depth"]) == ("wav", rate, 1, 16)
        assert r["n_samples"] == n
        assert r["duration_us"] == n * 1_000_000 // rate
        assert r["sample_sum"] == sum(
            ((doc_id * 13 + 37 * i) % 65536) - 32768 for i in range(n))


# ------------------------------------------------------------- as-of
def test_asof_join_backward_forward_tolerance(spark):
    """Hand-checkable as-of semantics: backward inclusive match,
    forward mirror, tolerance voiding, unmatched nulls, key isolation."""
    from etl_spark.operators.asof import asof_join

    TS = "2024-01-01 00:{:02d}:00"
    left = spark.createDataFrame(
        [(1, TS.format(10)), (1, TS.format(3)), (1, TS.format(5)),
         (2, TS.format(10)), (3, TS.format(1))],
        ["k", "ts"],
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, TS.format(4), "a"), (1, TS.format(5), "b"), (1, TS.format(9), "c"),
         (2, TS.format(11), "d")],
        ["k", "ts", "v"],
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")

    back = {
        (r["k"], r["ts"].minute): r["v_r"]
        for r in asof_join(left, right, on=["k"], left_ts="ts").collect()
    }
    # min 10 -> c (9); min 5 -> b (equal ts, inclusive); min 3 -> none;
    # k=2's only right row is AFTER it; k=3 has no right rows at all
    assert back == {(1, 10): "c", (1, 5): "b", (1, 3): None,
                    (2, 10): None, (3, 1): None}

    fwd = {
        (r["k"], r["ts"].minute): r["v_r"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", direction="forward"
        ).collect()
    }
    assert fwd == {(1, 10): None, (1, 5): "b", (1, 3): "a",
                   (2, 10): "d", (3, 1): None}

    tol = {
        (r["k"], r["ts"].minute): r["v_r"]
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", tolerance_us=60_000_000
        ).collect()
    }
    # 1-minute band: (1,10) is 1 min after c -> kept; others unmatched
    assert tol == {(1, 10): "c", (1, 5): "b", (1, 3): None,
                   (2, 10): None, (3, 1): None}


def test_asof_join_plan_has_no_join(spark):
    """The operator must be the union+window formulation: ONE exchange
    on the key, zero join operators — the property that makes it safe
    at 10^10 rows."""
    from etl_spark.operators.asof import asof_join

    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    right = spark.range(50).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_micros(F.col("id") * 2_000_000).alias("ts"),
        F.col("id").alias("v"),
    )
    plan = asof_join(
        left, right, on=["k"], left_ts="ts"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_connected_components_chain_and_merge(spark):
    """Min-label propagation reaches the exact fixpoint on shapes that
    need multiple rounds: a long chain (label must travel the full
    diameter), two clusters merged by a bridge edge, and an untouched
    separate pair."""
    # chain 10-11-...-15; triangle {1,2,3} bridged to {7,8}; pair (20,21)
    edges = (
        [(i, i + 1) for i in range(10, 15)]
        + [(1, 2), (2, 3), (1, 3), (3, 7), (7, 8)]
        + [(20, 21)]
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        (r["id"], r["component_id"])
        for r in DD.connected_components(pairs).collect()
    }
    want = (
        {(i, 10) for i in range(10, 16)}
        | {(i, 1) for i in (1, 2, 3, 7, 8)}
        | {(20, 20), (21, 20)}
    )
    assert got == want
    DD.release_caches()


def test_video_codec_round_trip_pure():
    """Pure-function AVI/MJPEG codec: encode → decode recovers the
    container params and the exact per-frame byte-length sum; corrupt
    containers (frame-count lie, frame/header dimension disagreement)
    raise instead of returning half-truths."""
    import struct

    from etl_spark.operators import videocodec as VC

    for w, h, n, fps, seed in [(16, 12, 5, 10, 7), (64, 48, 23, 25, 999),
                               (1, 1, 1, 1, 0)]:
        m = VC.decode_avi(VC.encode_avi_mjpeg(w, h, n, fps, seed))
        assert (m["format"], m["width"], m["height"], m["n_frames"]) == (
            "avi/mjpg", w, h, n)
        assert m["fps"] == fps
        assert m["duration_us"] == n * (1_000_000 // fps)
        assert m["frames_bytes_sum"] == sum(
            100 + ((seed + 7 * i) % 50) for i in range(n))
    with pytest.raises(ValueError):
        VC.decode_avi(b"RIFFxxxxNOPE")
    bad = bytearray(VC.encode_avi_mjpeg(8, 8, 3, 10, 1))
    idx = bytes(bad).find(b"avih") + 8 + 16  # dwTotalFrames
    bad[idx:idx + 4] = struct.pack("<I", 99)
    with pytest.raises(ValueError, match="declares 99"):
        VC.decode_avi(bytes(bad))


def test_synthesize_and_decode_video_spark(spark, docs):
    """End-to-end through mapInPandas: synthesized AVI bytes decode
    back to the arithmetic-predicted container metadata."""
    media = MM.synthesize_video(docs, "doc_id")
    out = {r["media_id"]: r for r in MM.decode_video_meta(media).collect()}
    assert len(out) == len(DOCS)
    for doc_id, _txt in DOCS:
        r = out[doc_id]
        assert r["width"] == 8 + doc_id % 25
        assert r["height"] == 6 + (doc_id * 3) % 19
        assert r["n_frames"] == 5 + doc_id % 20
        assert r["frames_bytes_sum"] == sum(
            100 + ((doc_id * 17 + 7 * i) % 50)
            for i in range(5 + doc_id % 20))


def test_simhash_md5_mode_matches_python_reference(spark, docs):
    """md5 hash mode (the oracle-reproducible contract path): the
    packed signature must equal the pure-Python fold over the top 64
    bits of md5(token) — proving the conv/shiftleft hex packing and
    the DuckDB nibble oracle share one bit layout."""
    sigs = {
        r["id"]: r["simhash"] & 0xFFFFFFFFFFFFFFFF
        for r in DD.simhash64(docs, "doc_id", "text", hash_fn="md5").collect()
    }
    for doc_id, txt in DOCS:
        exp = _py_simhash(
            txt, lambda t: int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        )
        assert sigs[doc_id] == exp, doc_id
    assert sigs[1] == sigs[2]  # exact dups agree in any hash mode


def test_connected_components_raises_when_unconverged(spark):
    """In strict propagation mode a chain deeper than max_iter must
    fail loud, not hand back wrong component ids (corpus curation
    would canonicalize the wrong docs). The same graph converges with
    enough rounds."""
    chain = [(i, i + 1) for i in range(12)]  # diameter 12
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(pairs, max_iter=3, algorithm="propagation")
    got = {
        (r["id"], r["component_id"])
        for r in DD.connected_components(
            pairs, max_iter=20, algorithm="propagation"
        ).collect()
    }
    assert got == {(i, 0) for i in range(13)}
    DD.release_caches()


def test_connected_components_auto_fallback_deep_chain(spark):
    """Default auto mode: a chain far deeper than max_iter (the shape
    that defeats round-per-hop propagation) must still return exact
    components — propagation contracts the first max_iter hops, star
    contraction finishes the label graph in O(log^2) rounds."""
    deep = [(i, i + 1) for i in range(60)]  # diameter 60 >> max_iter=4
    deep += [(100, 101), (101, 102)]  # separate shallow cluster
    pairs = spark.createDataFrame(deep, ["id_a", "id_b"])
    got = {
        (r["id"], r["component_id"])
        for r in DD.connected_components(pairs, max_iter=4).collect()
    }
    want = {(i, 0) for i in range(61)} | {(i, 100) for i in (100, 101, 102)}
    assert got == want
    DD.release_caches()


def test_connected_components_star_mode_shapes(spark):
    """Direct star contraction agrees with propagation on mixed
    shapes: long chain, bridged triangle clusters, isolated pair,
    duplicate + reversed edges (input not canonicalized)."""
    edges = (
        [(i, i + 1) for i in range(10, 25)]  # chain, diameter 15
        + [(1, 2), (2, 3), (1, 3), (3, 7), (7, 8), (8, 7), (2, 1)]
        + [(40, 41)]
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    star = {
        (r["id"], r["component_id"])
        for r in DD.connected_components(pairs, algorithm="star").collect()
    }
    prop = {
        (r["id"], r["component_id"])
        for r in DD.connected_components(
            pairs, max_iter=30, algorithm="propagation"
        ).collect()
    }
    want = (
        {(i, 10) for i in range(10, 26)}
        | {(i, 1) for i in (1, 2, 3, 7, 8)}
        | {(40, 40), (41, 40)}
    )
    assert star == want and prop == want
    DD.release_caches()


def test_connected_components_random_graphs_match_union_find(spark):
    """Seeded random graphs, star mode and the auto fallback (forced
    by a tiny max_iter) both cross-checked against a pure-Python
    union-find with min-id roots — shape-independent ground truth the
    fixed-shape goldens can't cover (random graphs mix chains, cycles,
    hubs, and isolated clusters in one edge set)."""
    import random

    def union_find(edges):
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
                parent[ra] = rb
        roots = {}
        for n in list(parent):
            roots.setdefault(find(n), []).append(n)
        return {n: min(ns) for r, ns in roots.items() for n in ns}

    for seed in (7, 23, 91, 140):
        rng = random.Random(seed)
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(50)
        ]
        want_map = union_find(edges)
        # union-find sees every edge incl. self-loops; the operator
        # emits only nodes with at least one non-self edge
        connected = {a for a, b in edges if a != b} | {
            b for a, b in edges if a != b
        }
        want = {(nd, want_map[nd]) for nd in connected}
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        star = {
            (r["id"], r["component_id"])
            for r in DD.connected_components(pairs, algorithm="star").collect()
        }
        auto = {
            (r["id"], r["component_id"])
            for r in DD.connected_components(pairs, max_iter=2).collect()
        }
        assert star == want, f"star mismatch seed={seed}"
        assert auto == want, f"auto-fallback mismatch seed={seed}"
        DD.release_caches()


def test_asof_join_duplicate_right_ts_is_deterministic(spark):
    """Several right rows sharing (key, ts): the greatest payload
    struct must win, in both directions — not partition-sort luck."""
    from etl_spark.operators.asof import asof_join

    TS = "2024-01-01 00:{:02d}:00"
    left = spark.createDataFrame(
        [(1, TS.format(5)), (1, TS.format(1))], ["k", "ts"]
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, TS.format(3), "a"), (1, TS.format(3), "b"), (1, TS.format(3), "c")],
        ["k", "ts", "v"],
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")

    for _ in range(3):  # stable across repeated runs
        back = {
            (r["k"], r["ts"].minute): r["v_r"]
            for r in asof_join(left, right, on=["k"], left_ts="ts").collect()
        }
        assert back == {(1, 5): "c", (1, 1): None}
        fwd = {
            (r["k"], r["ts"].minute): r["v_r"]
            for r in asof_join(
                left, right, on=["k"], left_ts="ts", direction="forward"
            ).collect()
        }
        assert fwd == {(1, 5): None, (1, 1): "c"}


def test_image_histogram_matches_pixel_arithmetic(spark, docs):
    """image_histogram through the real PNG decode equals the direct
    histogram of the synthesis arithmetic px_i = (id*31 + i) % 256."""
    media = MM.synthesize_images(docs.filter(F.col("doc_id") % 2 == 0), "doc_id")
    got = {
        (r["media_id"], r["bin"]): r["cnt"]
        for r in MM.image_histogram(media, bins=16).collect()
    }
    want = {}
    for mid, _ in DOCS:
        if mid % 2:
            continue
        w, h = 4 + mid % 29, 4 + (mid * 7) % 23
        for i in range(w * h):
            b = (mid * 31 + i) % 256 // 16
            want[(mid, b)] = want.get((mid, b), 0) + 1
    assert got == want


def _kmeans_numpy_reference(vecs, k, n_iters):
    """Sequential Lloyd's mirroring kmeans_train exactly: md5-order
    seeded init, (score, cell) lexicographic argmax, id-ordered
    sequential-fold means, empty cells keep their centroid."""
    import hashlib as _hl

    n = len(vecs)
    order = sorted(range(n), key=lambda i: (_hl.md5(str(i).encode()).hexdigest(), i))
    cents = [vecs[i].astype("float64").copy() for i in order[:k]]
    for _ in range(n_iters):
        assign = []
        for i in range(n):
            v = vecs[i].astype("float64")
            best = max(
                ((float(v @ c) - 0.5 * float(c @ c), j) for j, c in enumerate(cents)),
            )
            assign.append(best[1])
        new = []
        for j in range(k):
            members = [i for i in range(n) if assign[i] == j]
            if not members:
                new.append(cents[j])
                continue
            acc = np.zeros(vecs.shape[1], dtype="float64")
            for i in sorted(members):  # sequential id-ordered fold
                acc = acc + vecs[i].astype("float64")
            new.append(acc / len(members))
        cents = new
    return cents


def test_kmeans_exact_fold_matches_sequential_reference(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id: long, embedding: array<float>",
    )
    got = {
        r["cell"]: r["centroid"]
        for r in SIM.kmeans_train(
            df, k=4, n_iters=3, dim=8, exact_fold=True
        ).collect()
    }
    want = _kmeans_numpy_reference(vecs, k=4, n_iters=3)
    assert sorted(got) == list(range(4))
    for j in range(4):
        # bit-identical: the fold order is pinned on both sides
        assert got[j] == [float(x) for x in want[j]], j


def test_kmeans_avg_kernel_close_and_shapes(spark):
    rng = np.random.default_rng(8)
    vecs = rng.normal(size=(80, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id: long, embedding: array<float>",
    )
    exact = {
        r["cell"]: np.array(r["centroid"])
        for r in SIM.kmeans_train(df, k=4, n_iters=2, dim=8, exact_fold=True).collect()
    }
    avg = {
        r["cell"]: np.array(r["centroid"])
        for r in SIM.kmeans_train(df, k=4, n_iters=2, dim=8, exact_fold=False).collect()
    }
    assert sorted(avg) == sorted(exact) == list(range(4))
    for j in range(4):
        # the scale kernel differs only by float summation order
        assert np.allclose(avg[j], exact[j], rtol=1e-9, atol=1e-12), j


def test_kmeans_trained_ivf_search_runs(spark):
    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(50, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id: long, embedding: array<float>",
    )
    cents = SIM.kmeans_train(df, k=4, n_iters=2, dim=8).select(
        F.col("cell").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    out = SIM.ivf_topk(df, df.filter(F.col("vec_id") < 3), cents, k=2, dim=8)
    rows = out.collect()
    assert {r["query_id"] for r in rows} <= {0, 1, 2}
    assert all(1 <= r["rank"] <= 2 for r in rows)
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)


def test_kmeans_guards_and_dim_inference(spark):
    """k beyond the corpus raises up front (not IndexError after the
    jobs ran); dim=None infers the corpus width from the init sample
    and matches an explicit-dim run bit-for-bit; prefix-dim training
    folds the centroid norm over the SAME prefix as the dot terms
    (ivf_assign parity — the old full-vector norm broke the
    index-probe == recompute equivalence whenever dim < len(vec))."""
    import pytest as _pt

    rng = np.random.default_rng(10)
    vecs = rng.normal(size=(12, 6)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(12)],
        "vec_id: long, embedding: array<float>",
    )
    with _pt.raises(ValueError, match="exceeds the corpus size"):
        SIM.kmeans_train(df, k=20, n_iters=1, dim=6)

    inferred = {
        r["cell"]: r["centroid"]
        for r in SIM.kmeans_train(df, k=3, n_iters=2, exact_fold=True).collect()
    }
    explicit = {
        r["cell"]: r["centroid"]
        for r in SIM.kmeans_train(
            df, k=3, n_iters=2, dim=6, exact_fold=True
        ).collect()
    }
    assert inferred == explicit

    # prefix-dim parity with ivf_assign: trained centroids (len 6)
    # scored at dim=3 must assign exactly as ivf_assign's
    # dot(v,c,3) - 0.5*dot(c,c,3)
    cents = [list(explicit[j]) for j in sorted(explicit)]
    v = df.select(
        F.col("vec_id").alias("id"), SIM.as_double(F.col("embedding")).alias("_v")
    )
    got = {
        r["id"]: r["cell"]
        for r in SIM._kmeans_assign(v, cents, 3).collect()
    }
    cents_df = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "vec_id long, embedding array<double>",
    )
    want = {
        r["id"]: r["cell"]
        for r in SIM.ivf_assign(df, cents_df, dim=3).collect()
    }
    assert got == want


def test_contamination_overlap_detects_planted_leak(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated training text about spark engines"),
            (3, "another unrelated training document mentioning nothing shared"),
        ],
        "doc_id long, text string",
    )
    eval_ = spark.createDataFrame(
        [
            # verbatim copy of train doc 1 -> containment 1.0
            (10, "the quick brown fox jumps over the lazy dog tonight"),
            # partial overlap with doc 1 (a shared 5-token span)
            (20, "something else then the quick brown fox jumps away"),
            # clean
            (30, "zero lexical overlap with anything whatsoever here truly"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["eval_id"]: r
        for r in DD.contamination_overlap(
            train, eval_, "doc_id", "text", n=3
        ).collect()
    }
    assert out[10]["train_id"] == 1
    assert out[10]["containment_r4"] == 1.0
    assert out[10]["jaccard_r4"] == 1.0
    assert out[20]["train_id"] == 1
    assert 0 < out[20]["containment_r4"] < 1.0
    # clean doc stays in the output with an explicit zero
    assert out[30]["train_id"] is None
    assert out[30]["shared"] == 0
    assert out[30]["containment_r4"] == 0.0


def test_contamination_cap_ignores_boilerplate(spark):
    # a shingle present in every training doc is boilerplate: with the
    # cap at 2 it must not create candidates or count toward overlap
    boiler = "standard header line"
    train = spark.createDataFrame(
        [(i, f"{boiler} body text number {i} filler") for i in range(1, 4)],
        "doc_id long, text string",
    )
    eval_ = spark.createDataFrame(
        [(10, boiler)], "doc_id long, text string"
    )
    out = DD.contamination_overlap(
        train, eval_, "doc_id", "text", n=3, max_shingle_freq=2
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["train_id"] is None and r["shared"] == 0
    assert r["n_eval"] == 0 and r["containment_r4"] == 0.0


# ---------------------------------------------------------- curation


def test_hash_split_deterministic_and_partition_invariant(spark):
    """The split is a pure function of (seed, key): identical
    assignments at different partitionings (df.randomSplit cannot
    promise that), different seeds reshuffle membership, and weights
    that don't sum to 100 are refused."""
    from etl_spark.operators.curation import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    splits = (("train", 80), ("val", 10), ("test", 10))
    a = dict(
        (r["doc_id"], r["split"])
        for r in hash_split(df, "doc_id", splits, seed=7).collect()
    )
    b = dict(
        (r["doc_id"], r["split"])
        for r in hash_split(df.repartition(13), "doc_id", splits, seed=7).collect()
    )
    assert a == b and len(a) == 2000
    counts = {s: sum(1 for v in a.values() if v == s) for s, _ in splits}
    # 32-bit uniform: expect ~80/10/10 within a loose band
    assert 1500 < counts["train"] < 1750
    assert 120 < counts["val"] < 280 and 120 < counts["test"] < 280
    c = dict(
        (r["doc_id"], r["split"])
        for r in hash_split(df, "doc_id", splits, seed=8).collect()
    )
    assert a != c  # a new seed is a new draw
    with pytest.raises(ValueError, match="sum to 100"):
        hash_split(df, "doc_id", (("train", 80), ("val", 10)), seed=7)


def test_pack_shards_matches_sequential_reference(spark):
    """The distributed prefix sum (key-range groups + offset frame)
    must equal the sequential exclusive-cumsum packing for ANY group
    count, on sparse non-contiguous keys with varying sizes."""
    from etl_spark.operators.curation import pack_shards

    rng = np.random.default_rng(11)
    keys = sorted(rng.choice(100_000, size=500, replace=False).tolist())
    sizes = rng.integers(1, 400, size=500).tolist()
    rows = list(zip(keys, sizes))
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")

    excl = 0
    want = {}
    for k, s in rows:  # already key-sorted, keys unique
        want[k] = excl // 1000
        excl += s
    for groups in (1, 3, 7, 32):
        got = dict(
            (r["doc_id"], r["shard_id"])
            for r in pack_shards(
                df, "doc_id", F.col("n_tok"), 1000, n_groups=groups
            ).collect()
        )
        assert got == want, f"n_groups={groups}"
    # shards are contiguous runs in key order starting at 0
    ids = [want[k] for k in keys]
    assert ids[0] == 0 and all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))


def test_pack_shards_outlier_key_space_still_parallelizes(spark):
    """Snowflake-style ids (one outlier key far above a dense block)
    collapse NAIVE uniform range-grouping into a single range holding
    every real row — the refinement loop must split the dense block
    back out, and the assignment must still match the sequential
    reference."""
    from etl_spark.operators.curation import pack_shards

    rows = [(i, 100) for i in range(500)] + [(1 << 40, 100)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    packed = pack_shards(df, "doc_id", F.col("n_tok"), 1000, n_groups=8)
    got = dict((r["doc_id"], r["shard_id"]) for r in packed.collect())
    excl = 0
    for k, s in rows:
        assert got[k] == excl // 1000, k
        excl += s
    # the refinement must give the dense block more than one group:
    # the plan's group expression is embedded, so probe via the
    # internal assignment — re-run with refinement disabled and
    # assert the naive grouping differs (all dense rows in group 0)
    from etl_spark.operators import curation as C

    naive = pack_shards(
        df, "doc_id", F.col("n_tok"), 1000, n_groups=8, refine_rounds=0
    )
    assert dict((r["doc_id"], r["shard_id"]) for r in naive.collect()) == got
    # same answer either way (correctness is grouping-independent);
    # the parallelism evidence is in the plan: refined run groups by
    # a multi-start fold or tighter DIV, naive by the full-span DIV
    p_ref = packed._sc._jvm.PythonSQLUtils.explainString(
        packed._jdf.queryExecution(), "formatted"
    )
    p_nai = naive._sc._jvm.PythonSQLUtils.explainString(
        naive._jdf.queryExecution(), "formatted"
    )
    assert p_ref != p_nai  # refinement changed the group assignment


def test_pack_shards_duplicate_keys_are_deterministic(spark):
    """Tied keys share one RANGE-frame exclusive sum, so duplicate
    keys get IDENTICAL shard ids in any run — no ROWS-frame tie
    lottery."""
    from etl_spark.operators.curation import pack_shards

    rows = [(1, 500), (2, 600), (2, 600), (3, 100)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    for groups in (1, 4):
        out = pack_shards(
            df, "doc_id", F.col("n_tok"), 1000, n_groups=groups
        ).collect()
        by_key = {}
        for r in out:
            by_key.setdefault(r["doc_id"], set()).add(r["shard_id"])
        assert by_key[2] == {0}, by_key  # both tied rows: excl=500 -> shard 0
        assert by_key[1] == {0}
        assert by_key[3] == {1}, by_key  # excl = 500+1200 = 1700 -> shard 1


def test_pack_shards_empty_bad_budget_and_collisions(spark):
    from etl_spark.operators.curation import pack_shards

    df = spark.createDataFrame([], "doc_id long, n_tok int")
    assert pack_shards(df, "doc_id", F.col("n_tok"), 10).count() == 0
    with pytest.raises(ValueError, match="positive"):
        pack_shards(df, "doc_id", F.col("n_tok"), 0)
    clash = df.withColumn("__ps_grp", F.lit(1))
    with pytest.raises(ValueError, match="reserves"):
        pack_shards(clash, "doc_id", F.col("n_tok"), 10)


def test_pack_shards_refuses_null_keys(spark):
    """A NULL key has no position in the key order: refused with a
    clear error, not a driver-side TypeError from sorting the NULL
    group next to the integer ones."""
    from etl_spark.operators.curation import pack_shards

    df = spark.createDataFrame(
        [(1, 5), (None, 7), (3, 2)], "doc_id long, n_tok int"
    )
    with pytest.raises(ValueError, match="1 rows have a NULL 'doc_id'"):
        pack_shards(df, "doc_id", F.col("n_tok"), 10, n_groups=2)


def test_hash_ops_refuse_null_keys_and_bad_weights(spark):
    """NULL keys have no identity: hashing them would pool every NULL
    into the last split with no error — hash_split raises at row
    level instead. Weights must be
    positive ints (a (110, -10) pair sums to 100 but silently empties
    a split)."""
    from etl_spark.operators.curation import hash_split

    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    with pytest.raises(Exception) as ei:
        hash_split(
            df, "doc_id", (("a", 50), ("b", 50)), seed=1
        ).collect()
    assert "NULL key" in str(ei.value)
    ok = spark.createDataFrame([(1,), (2,)], "doc_id long")
    with pytest.raises(ValueError, match="positive"):
        hash_split(ok, "doc_id", (("a", 110), ("b", -10)), seed=1)
