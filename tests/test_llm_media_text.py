"""Multimodal plumbing + fingerprint invariants (rows-only queries)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from local_etl_spark.catalog import table
from local_etl_spark.multimodal.columns import (
    decode_media,
    frame_sample,
    synthesize_media,
)
from local_etl_spark.registry import get

SF = "/root/testdata/sf0.01"


def test_media_decode_roundtrip(spark):
    """The decoder must recover, from the BYTES ALONE (container magic
    + header grammar), exactly the geometry the generator embedded —
    and the local pure-Python reference decode of the same payload must
    agree field-for-field."""
    from local_etl_spark.multimodal.columns import (
        _gen_payload,
        decode_payload,
        media_dims,
    )

    docs = table(spark, SF, "documents").limit(50)
    decoded = {r["doc_id"]: r for r in decode_media(synthesize_media(docs)).collect()}
    for r in docs.select("doc_id", "text").collect():
        d = decoded[r["doc_id"]]
        dims = media_dims(r["doc_id"])
        assert d["modality"] == dims["modality"]
        if dims["modality"] == "image":
            assert (d["format"], d["width"], d["height"], d["channels"]) == (
                "ppm", dims["img_w"], dims["img_h"], 3,
            )
            assert d["n_units"] == dims["img_w"] * dims["img_h"]
        elif dims["modality"] == "audio":
            assert (d["format"], d["width"], d["height"], d["channels"]) == (
                "wav", 8000, 16, 1,
            )
            assert d["n_units"] == dims["n_samples"]
        else:
            assert (d["format"], d["width"], d["height"], d["channels"]) == (
                "y4m", dims["vid_w"], dims["vid_h"], 3,
            )
            assert d["n_units"] == dims["n_frames"]
        # cross-check against a driver-side reference decode
        _, payload = _gen_payload(r["doc_id"], r["text"])
        ref = decode_payload(payload)
        assert d["payload_sha"] == hashlib.sha1(payload).hexdigest()
        assert d["n_bytes"] == len(payload)
        assert d["mean_val"] == pytest.approx(ref["mean_val"], abs=1e-12)


def test_decoder_rejects_garbage():
    from local_etl_spark.multimodal.columns import decode_payload

    with pytest.raises(ValueError):
        decode_payload(b"GIF89a not a supported container")


def test_frame_sample_shape(spark):
    """Sampled frame indexes follow the real Y4M frame walk, and each
    emitted frame_sha matches the sha1 of that frame's actual bytes."""
    from local_etl_spark.multimodal.columns import _gen_payload, media_dims

    docs = table(spark, SF, "documents").limit(30)
    fs = frame_sample(synthesize_media(docs), every_n=10)
    per_doc = {}
    for r in fs.collect():
        per_doc.setdefault((r["doc_id"], r["modality"]), []).append(
            (r["frame_idx"], r["frame_sha"])
        )
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for (doc_id, modality), rows in per_doc.items():
        idxs = sorted(i for i, _ in rows)
        dims = media_dims(doc_id)
        if modality == "video":
            assert idxs == list(range(0, dims["n_frames"], 10))
            # verify one sampled frame's bytes end-to-end
            _, payload = _gen_payload(doc_id, texts[doc_id])
            nl = payload.index(b"\n")
            flen = dims["vid_w"] * dims["vid_h"] * 3 // 2
            first = payload[nl + 1 + 6 : nl + 1 + 6 + flen]  # skip "FRAME\n"
            sha0 = dict(rows)[0]
            assert sha0 == hashlib.sha1(first).hexdigest()
        else:
            _, payload = _gen_payload(doc_id, texts[doc_id])
            assert rows == [(0, hashlib.sha1(payload).hexdigest())]


def test_framesample_query_keeps_non_video_rows(spark):
    """The registered llm_media_framesample query emits every modality:
    one whole-payload row per image/audio doc plus the sampled video
    frames. A video-only synthesis input drops the non-video rows
    (309 rows instead of 643 at sf0.01)."""
    df = get("llm_media_framesample").fn(spark, SF)
    assert df.count() == 643
    kinds = {r["modality"] for r in df.select("modality").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_fingerprint_near_dups_share(spark):
    """Winnowing guarantee: docs sharing long runs (the planted
    near-dups) share fingerprints; fingerprints are deterministic."""
    fp1 = {r["doc_id"]: (r["n_fp"], r["fp_xor"]) for r in get("llm_fingerprint").fn(spark, SF).collect()}
    fp2 = {r["doc_id"]: (r["n_fp"], r["fp_xor"]) for r in get("llm_fingerprint").fn(spark, SF).collect()}
    assert fp1 == fp2  # deterministic
    # near-dup pair from the exact ground truth shares most fingerprints
    pairs = get("llm_dedup_ngram").fn(spark, SF).collect()
    assert pairs
    d1, d2 = pairs[0]["d1"], pairs[0]["d2"]
    # recompute actual fingerprint sets for the pair with the SAME
    # shared gram-hash expression the query uses
    from local_etl_spark.queries.llm_text import GRAM_HASH_EXPR

    docs = table(spark, SF, "documents").filter(F.col("doc_id").isin(d1, d2))
    sh = docs.select(
        "doc_id", F.split("text", " ").alias("_w")
    ).select(
        "doc_id",
        F.posexplode(F.expr(GRAM_HASH_EXPR)).alias("pos", "h"),
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fps = (
        sh.select("doc_id", F.min("h").over(win).alias("fp"))
        .distinct()
        .collect()
    )
    s1 = {r["fp"] for r in fps if r["doc_id"] == d1}
    s2 = {r["fp"] for r in fps if r["doc_id"] == d2}
    overlap = len(s1 & s2) / min(len(s1), len(s2))
    assert overlap >= 0.5, f"near-dup fingerprint overlap {overlap}"


# --- token-entropy fold ≡ Python Counter spec (property) ----------------

import math as _math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_TOKEN = st.text(alphabet="abc ", min_size=0, max_size=12)


def _spec_entropy(tokens: list[str]) -> float:
    """Executable spec: Counter-based Shannon entropy, terms added in
    sorted-token order (the fold's contract)."""
    from collections import Counter

    total = len(tokens)
    counts = Counter(tokens)
    acc = 0.0
    for tok in sorted(counts):
        p = counts[tok] / total
        acc += -p * _math.log(p)
    return round(acc, 6)


@settings(max_examples=25, deadline=None)
@given(st.lists(_TOKEN, min_size=1, max_size=30))
def test_entropy_fold_matches_counter_spec(spark, texts):
    from local_etl_spark.queries.llm_text import ENTROPY_FOLD

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    ).select(
        "i",
        F.split("text", " ").alias("ws"),
        F.size(F.split("text", " ")).alias("total"),
    )
    rows = df.select("i", F.round(F.expr(ENTROPY_FOLD), 6).alias("e")).collect()
    for row in rows:
        expected = _spec_entropy(texts[row["i"]].split(" "))
        assert abs(row["e"] - expected) <= 1e-6, (texts[row["i"]], row["e"], expected)


# --- BM25 ≡ pure-Python spec on the real corpus ------------------------


def test_bm25_matches_python_spec(spark):
    """Recompute BM25 for every corpus doc in plain Python (Counter +
    math.log) and compare to the engine's distributed answer."""
    import math

    from local_etl_spark.queries.llm_text import BM25_B, BM25_K1, BM25_TERMS
    from local_etl_spark.queries._util import t
    from local_etl_spark.registry import get

    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in t(spark, sf, "documents").collect()
    }
    n_docs = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n_docs
    df = {
        term: sum(1 for toks in docs.values() if term in toks)
        for term in BM25_TERMS
    }

    def spec(toks):
        dl = len(toks)
        score = 0.0
        for term in BM25_TERMS:
            tf = toks.count(term)
            idf = math.log((n_docs - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
            score += (
                idf
                * (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
            )
        return round(score, 6)

    got = {
        r["doc_id"]: r["bm25"]
        for r in get("llm_bm25").fn(spark, sf).collect()
    }
    expected = {
        did: spec(toks)
        for did, toks in docs.items()
        if any(t_ in toks for t_ in BM25_TERMS)
    }
    assert set(got) == set(expected)
    for did in expected:
        assert abs(got[did] - expected[did]) <= 1e-6, did


def test_funnel_matches_python_spec(spark):
    """Brute-force the view→click→purchase funnel per user in Python
    and compare stages + timestamps with the engine's answer."""
    from local_etl_spark.queries._util import t
    from local_etl_spark.registry import get

    sf = "/root/testdata/sf0.001"
    events = sorted(
        (
            (r["user_id"], r["ts"], r["event_type"])
            for r in t(spark, sf, "events").collect()
        ),
        key=lambda x: (x[0], x[1]),
    )
    by_user = {}
    for uid, ts, et in events:
        by_user.setdefault(uid, []).append((ts, et))

    def spec(evs):
        t_view = min((ts for ts, et in evs if et == "view"), default=None)
        if t_view is None:
            return None
        t_click = min(
            (ts for ts, et in evs if et == "click" and ts > t_view),
            default=None,
        )
        t_purchase = (
            min(
                (ts for ts, et in evs if et == "purchase" and ts > t_click),
                default=None,
            )
            if t_click is not None
            else None
        )
        stage = 3 if t_purchase else (2 if t_click else 1)
        return (t_view, t_click, t_purchase, stage)

    expected = {
        uid: s for uid, evs in by_user.items() if (s := spec(evs)) is not None
    }
    got = {
        r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"], r["stage"])
        for r in get("agg_funnel").fn(spark, sf).collect()
    }
    assert got == expected


def test_media_resize_matches_reference_resample(spark):
    """Every resized payload sha matches a driver-side nearest-neighbor
    resample of the same source PPM, and the emitted dims follow
    floor(dim/2) with the min-1 guard."""
    from local_etl_spark.multimodal.columns import (
        _gen_payload,
        media_dims,
        resize_images,
        resize_ppm,
    )

    docs = table(spark, SF, "documents").limit(30)
    out = {r["doc_id"]: r for r in resize_images(synthesize_media(docs), 2).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    n_images = 0
    for doc_id, text in texts.items():
        dims = media_dims(doc_id)
        if dims["modality"] != "image":
            assert doc_id not in out  # non-image rows are filtered
            continue
        n_images += 1
        _, payload = _gen_payload(doc_id, text)
        ref = resize_ppm(payload, 2)
        r = out[doc_id]
        assert r["resized_sha"] == hashlib.sha1(ref).hexdigest()
        assert (r["src_width"], r["src_height"]) == (dims["img_w"], dims["img_h"])
        assert r["width"] == max(1, dims["img_w"] // 2)
        assert r["height"] == max(1, dims["img_h"] // 2)
        assert r["n_bytes"] == len(ref)
        # the output is itself a valid PPM with the declared dims
        from local_etl_spark.multimodal.columns import decode_ppm

        meta = decode_ppm(ref)
        assert (meta["width"], meta["height"]) == (r["width"], r["height"])
    assert n_images > 0 and len(out) == n_images


def test_audio_features_match_reference_windows(spark):
    """Every (window, rms, peak) row equals a driver-side walk of the
    same WAV bytes; window count covers the full PCM stream."""
    from local_etl_spark.multimodal.columns import (
        _gen_payload,
        media_dims,
        audio_features,
        wav_windows,
    )

    docs = table(spark, SF, "documents").limit(30)
    rows = audio_features(synthesize_media(docs), win=64).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], {})[r["win_idx"]] = r
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    n_audio = 0
    for doc_id, text in texts.items():
        dims = media_dims(doc_id)
        if dims["modality"] != "audio":
            assert doc_id not in got
            continue
        n_audio += 1
        _, payload = _gen_payload(doc_id, text)
        ref = {w["win_idx"]: w for w in wav_windows(payload, 64)}
        assert set(got[doc_id]) == set(ref)
        for idx, w in ref.items():
            r = got[doc_id][idx]
            assert r["n_samples"] == w["n_samples"]
            assert r["peak"] == w["peak"]
            assert r["rms"] == pytest.approx(w["rms"], abs=0)
    assert n_audio > 0 and len(got) == n_audio


def test_video_scenes_match_reference_walk(spark):
    """Every frame-transition MAD + cut flag equals a driver-side walk
    of the same Y4M stream; transitions per doc = n_frames - 1."""
    from local_etl_spark.multimodal.columns import (
        _gen_payload,
        media_dims,
        scene_cuts,
        y4m_scene_diffs,
    )

    docs = table(spark, SF, "documents").limit(30)
    rows = scene_cuts(synthesize_media(docs)).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], {})[r["frame_idx"]] = r
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    n_video = 0
    for doc_id, text in texts.items():
        dims = media_dims(doc_id)
        if dims["modality"] != "video":
            assert doc_id not in got
            continue
        n_video += 1
        _, payload = _gen_payload(doc_id, text)
        ref = {d["frame_idx"]: d for d in y4m_scene_diffs(payload)}
        assert len(ref) == dims["n_frames"] - 1
        assert set(got[doc_id]) == set(ref)
        for idx, d in ref.items():
            r = got[doc_id][idx]
            assert r["mad"] == pytest.approx(d["mad"], abs=0)
            assert r["is_cut"] == d["is_cut"]
    assert n_video > 0 and len(got) == n_video


def test_image_phash_matches_numpy_reference_and_exact_pairs(spark):
    """llm_image_phash invariants, against an INDEPENDENT NumPy
    reference: (1) every (ahash, dhash) equals a vectorized
    re-derivation from the same payload bytes (different code path:
    np.frombuffer + fancy indexing vs the kernel's per-cell byte walk);
    (2) the banded pair set equals the brute-force hamming-<=T pair set
    EXACTLY — 8 one-byte bands pigeonhole-guarantee every pair with
    hamming <= 7, so banding loses nothing at the <=6 bar."""
    import itertools

    import numpy as np

    from local_etl_spark.multimodal.columns import _ppm_header, image_hashes
    from local_etl_spark.queries.llm_media import PHASH_HAMMING_T

    media = synthesize_media(table(spark, SF, "documents"))
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in media.filter(F.col("modality") == "image").collect()
    }

    def np_gray_grid(raw, gw, gh):
        w, h, pos = _ppm_header(raw)
        px = np.frombuffer(raw[pos : pos + w * h * 3], dtype=np.uint8)
        px = px.reshape(h, w, 3).astype(np.int64)
        gray = px.sum(axis=2) // 3
        ys = (np.arange(gh) * h) // gh
        xs = (np.arange(gw) * w) // gw
        return gray[np.ix_(ys, xs)]

    def np_ahash(raw):
        g = np_gray_grid(raw, 8, 8).ravel()
        mean = int(g.sum()) // 64
        return int("".join("1" if v > mean else "0" for v in g), 2)

    def np_dhash(raw):
        g = np_gray_grid(raw, 9, 8)
        bits = "".join(
            "1" if g[y][x] > g[y][x + 1] else "0"
            for y in range(8)
            for x in range(8)
        )
        return int(bits, 2)

    got = {
        r["doc_id"]: r
        for r in image_hashes(media).collect()
    }
    assert set(got) == set(payloads)
    ref_a = {}
    for doc_id, raw in payloads.items():
        ra, rd = np_ahash(raw), np_dhash(raw)
        ref_a[doc_id] = ra
        def signed(u):
            return u - (1 << 64) if u >= (1 << 63) else u
        assert got[doc_id]["ahash"] == signed(ra), doc_id
        assert got[doc_id]["dhash"] == signed(rd), doc_id
        assert got[doc_id]["ahash_hex"] == f"{ra:016x}"

    expected_pairs = {
        (d1, d2)
        for d1, d2 in itertools.combinations(sorted(payloads), 2)
        if bin(ref_a[d1] ^ ref_a[d2]).count("1") <= PHASH_HAMMING_T
    }
    pairs = {
        (r["d1"], r["d2"])
        for r in get("llm_image_phash").fn(spark, SF).collect()
    }
    assert pairs == expected_pairs
    assert pairs, "corpus should contain at least one near-dup image"


def test_audio_fingerprint_matches_numpy_reference_and_exact_pairs(spark):
    """llm_audio_fingerprint invariants, against an INDEPENDENT NumPy
    reference: (1) every fp equals a vectorized re-derivation from the
    same payload bytes (np.frombuffer int16 + cumsum-of-squares band
    energies vs the kernel's per-sample Python walk); (2) the banded
    pair set equals the brute-force hamming-<=T pair set EXACTLY (8
    one-byte bands pigeonhole-cover every pair with hamming <= 7);
    (3) gain-robustness: doubling the samples of one stream leaves
    its fingerprint unchanged (sign-of-delta contour)."""
    import itertools
    import struct as _struct

    import numpy as np

    from local_etl_spark.multimodal.columns import (
        AUDIO_FP_BANDS,
        audio_fingerprints,
        audio_fp64,
    )
    from local_etl_spark.queries.llm_media import (
        AUDIO_FP_HAMMING_T,
        llm_audio_fingerprint,
    )

    media = synthesize_media(table(spark, SF, "documents"))
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in media.filter(F.col("modality") == "audio").collect()
    }
    assert payloads

    def np_fp(raw):
        # independent RIFF walk: find the data chunk with a regex-free
        # scan, then vectorized band energies
        assert raw[:4] == b"RIFF" and raw[8:12] == b"WAVE"
        pos, data = 12, None
        while pos + 8 <= len(raw):
            cid = raw[pos : pos + 4]
            size = _struct.unpack("<I", raw[pos + 4 : pos + 8])[0]
            if cid == b"data":
                data = raw[pos + 8 : pos + 8 + size]
            pos += 8 + size + (size & 1)
        s = np.frombuffer(data[: 2 * (len(data) // 2)], dtype="<i2").astype(
            np.int64
        )
        n = len(s)
        cut = [(i * n) // AUDIO_FP_BANDS for i in range(AUDIO_FP_BANDS + 1)]
        sq = np.concatenate([[0], np.cumsum(s * s)])
        e = [int(sq[cut[i + 1]] - sq[cut[i]]) for i in range(AUDIO_FP_BANDS)]
        fp = 0
        for i in range(AUDIO_FP_BANDS - 1):
            if e[i + 1] > e[i]:
                fp |= 1 << i
        return fp

    got = {r["doc_id"]: r for r in audio_fingerprints(media).collect()}
    assert set(got) == set(payloads)
    ref = {}
    for doc_id, raw in payloads.items():
        u = np_fp(raw)
        ref[doc_id] = u
        signed = u - (1 << 64) if u >= (1 << 63) else u
        assert got[doc_id]["fp"] == signed, doc_id
        assert got[doc_id]["fp_hex"] == f"{u:016x}"

    # exact per-doc near-dup census against the brute-force pair set
    want_n = {d: 0 for d in ref}
    want_min = {d: -1 for d in ref}
    for d1, d2 in itertools.combinations(sorted(ref), 2):
        h = bin(ref[d1] ^ ref[d2]).count("1")
        if h <= AUDIO_FP_HAMMING_T:
            for x in (d1, d2):
                want_n[x] += 1
                want_min[x] = h if want_min[x] < 0 else min(want_min[x], h)
    rows = {r["doc_id"]: r for r in llm_audio_fingerprint(spark, SF).collect()}
    assert set(rows) == set(ref)
    for d, r in rows.items():
        assert r["n_near_dups"] == want_n[d], d
        assert r["min_hamming"] == want_min[d], d

    # gain-robustness: scale one stream's samples by 2 (clip-free by
    # construction: re-synthesize from half-amplitude values)
    some = next(iter(payloads))
    raw = payloads[some]
    s = np.frombuffer(raw[44:], dtype="<i2").astype(np.int64)
    halved = (s // 4).astype("<i2").tobytes()
    doubled = (2 * (s // 4)).astype("<i2").tobytes()
    hdr = raw[:40] + _struct.pack("<I", len(halved))
    assert audio_fp64(hdr + halved) == audio_fp64(hdr + doubled)


def test_cross_modal_census_matches_brute_force(spark):
    """llm_dedup_cross_modal's tri-channel census must equal a
    brute-force all-pairs walk over the SAME engine fingerprints
    (text simhash + image ahash + audio fp), AND its text-slice
    columns must equal an independent DuckDB oracle that recomputes
    the simhash machinery from the parquet (the SQL-oracle half of
    VERDICT r12 #7: the media kernels are structurally rows-only, the
    text channel is not)."""
    import itertools

    import duckdb

    from local_etl_spark.multimodal.columns import (
        audio_fingerprints,
        image_hashes,
        synthesize_media,
    )
    from local_etl_spark.queries.llm_dedup import (
        HAMMING_T,
        simhash_signatures,
    )
    from local_etl_spark.queries.llm_media import CROSSM_MEDIA_T

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents")
    sig = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs).collect()
    }
    media = synthesize_media(docs)
    mfp = {}
    for r in image_hashes(media).collect():
        mfp[r["doc_id"]] = ("image", r["ahash"])
    for r in audio_fingerprints(media).collect():
        mfp[r["doc_id"]] = ("audio", r["fp"])
    modality = {
        d: ("image", "audio", "video")[d % 3] for d in sig
    }

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    want = {
        d: {
            "n_text_dups": 0,
            "min_text_hamming": -1,
            "n_cross_container": 0,
            "n_media_dups": 0,
            "min_media_hamming": -1,
        }
        for d in sig
    }
    for d1, d2 in itertools.combinations(sorted(sig), 2):
        h = ham(sig[d1], sig[d2])
        if h <= HAMMING_T:
            for x, y in ((d1, d2), (d2, d1)):
                w = want[x]
                w["n_text_dups"] += 1
                w["min_text_hamming"] = (
                    h
                    if w["min_text_hamming"] < 0
                    else min(w["min_text_hamming"], h)
                )
                if modality[x] != modality[y]:
                    w["n_cross_container"] += 1
    for d1, d2 in itertools.combinations(sorted(mfp), 2):
        c1, f1 = mfp[d1]
        c2, f2 = mfp[d2]
        if c1 != c2:
            continue
        h = ham(f1, f2)
        if h <= CROSSM_MEDIA_T:
            for x in (d1, d2):
                w = want[x]
                w["n_media_dups"] += 1
                w["min_media_hamming"] = (
                    h
                    if w["min_media_hamming"] < 0
                    else min(w["min_media_hamming"], h)
                )

    got = {
        r["doc_id"]: r
        for r in get("llm_dedup_cross_modal").fn(spark, sf).collect()
    }
    assert set(got) == set(sig)
    for d, w in want.items():
        g = got[d]
        assert g["modality"] == modality[d], d
        for k, v in w.items():
            assert g[k] == v, (d, k, g[k], v)
    # non-degeneracy: every channel fires somewhere at this SF
    assert any(w["n_text_dups"] > 0 for w in want.values())
    assert any(w["n_cross_container"] > 0 for w in want.values())
    assert any(w["n_media_dups"] > 0 for w in want.values())

    # text-slice SQL oracle: recompute the simhash census entirely in
    # DuckDB (independent of the engine's signatures) and compare the
    # three text columns
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    orows = con.execute(f"""
WITH tok AS (
    SELECT doc_id, t.w AS w, count(*) AS cnt
    FROM documents, unnest(string_split(text, ' ')) AS t(w)
    WHERE t.w <> ''
    GROUP BY doc_id, t.w
),
h AS (
    SELECT doc_id, cnt,
           CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) AS hi,
           CAST(('0x' || substring(md5(w), 9, 8)) AS BIGINT) AS lo
    FROM tok
),
bits AS (
    SELECT doc_id, j,
           sum(CASE WHEN ((CASE WHEN j < 32 THEN lo ELSE hi END)
                          >> (j % 32)) & 1 = 1
                    THEN cnt ELSE -cnt END) AS v
    FROM h, unnest(range(0, 64)) AS t(j)
    GROUP BY doc_id, j
),
sig AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 AND j < 63
                         THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                         ELSE 0 END) AS BIGINT)
           + CAST(CASE WHEN max(CASE WHEN j = 63 AND v > 0
                                     THEN 1 ELSE 0 END) = 1
                       THEN -9223372036854775808 ELSE 0 END AS BIGINT)
             AS simhash
    FROM bits GROUP BY doc_id
),
m AS (
    SELECT doc_id, simhash,
           (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1]
               AS modality
    FROM sig
),
pairs AS (
    SELECT a.doc_id AS doc_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hm,
           CASE WHEN a.modality <> b.modality THEN 1 ELSE 0 END AS xc
    FROM m a JOIN m b ON a.doc_id <> b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_T}
)
SELECT m.doc_id,
       coalesce(p.n, 0) AS n_text_dups,
       coalesce(p.mh, -1) AS min_text_hamming,
       coalesce(p.nx, 0) AS n_cross_container
FROM m LEFT JOIN (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n, min(hm) AS mh,
           CAST(sum(xc) AS BIGINT) AS nx
    FROM pairs GROUP BY doc_id) p ON p.doc_id = m.doc_id
""").fetchall()
    oracle = {r[0]: (r[1], r[2], r[3]) for r in orows}
    assert set(oracle) == set(got)
    for d, g in got.items():
        assert oracle[d] == (
            g["n_text_dups"],
            g["min_text_hamming"],
            g["n_cross_container"],
        ), d
