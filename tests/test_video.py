"""Y4M video codec + video-dedup invariants beyond the value-hash gate
(the oracle equivalence of q99zzp/q99zzq/q99zzr runs in
test_queries_vs_duckdb over the full registry):

- container round-trips for every implemented colorspace (mono, the 420
  family, 422, 444), with header parameters (non-integer frame rates,
  interlace, aspect, X extensions) parsed back exactly;
- the malformed-returns-None quarantine contract (bad magic, unknown
  parameter tags, garbage frame markers, truncated payloads, odd
  dimensions under subsampled chroma) vs the LOUD NotImplementedError
  gate for valid-but-unimplemented colorspaces (the jpegcodec rule);
- frame ORDER: the rotation synthesis makes every frame distinct, so a
  walk that misorders frames is caught structurally;
- the planted-twin pair contract: each doc_id % 7 == 0 document pairs
  with its one-cell-perturbed twin video on BOTH sampled keyframes at
  per-frame hamming <= 2;
- the pair plan is a banded equi-join, never a cartesian product.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from allora_indexer_spark.operators.multimodal import (
    _TWIN_MOD,
    _TWIN_OFFSET,
    pool_dhash_from_gray,
)
from allora_indexer_spark.operators.video import (
    _VID_CELLS,
    _VID_MIN_MATCHED,
    _VID_PAIR_FRAMES,
    _VID_SAMPLE,
    _VID_STEP,
    _doc_n_frames,
    decode_y4m,
    q99zzr_video_near_dup_pairs,
    synth_y4m,
    synth_y4m_mono,
)
from allora_indexer_spark.registry import all_queries
from allora_indexer_spark.tables import load_table


def _tile(payload: bytes, n: int = _VID_CELLS) -> bytes:
    return (payload * (n // len(payload) + 1))[:n]


# ---------------------------------------------------------------------------
# codec round-trips
# ---------------------------------------------------------------------------


def test_mono_roundtrip_and_rotation():
    p = b"the quick brown fox jumps over the lazy dog"
    n = _doc_n_frames(p)
    d = decode_y4m(synth_y4m_mono(p, n))
    assert d is not None
    assert (d["width"], d["height"]) == (9, 8)
    assert (d["fps_num"], d["fps_den"]) == (25, 1)
    assert d["colorspace"] == "mono"
    assert len(d["frames"]) == n
    s = _tile(p)
    for f, fr in enumerate(d["frames"]):
        off = (f * _VID_STEP) % _VID_CELLS
        assert fr["y"].tobytes() == s[off:] + s[:off]
        assert fr["u"] is None and fr["v"] is None
    # rotation makes frames pairwise distinct — the frame-order witness
    raws = [fr["y"].tobytes() for fr in d["frames"]]
    assert len(set(raws)) == len(raws)


@pytest.mark.parametrize(
    "cs,w,h,cw,ch",
    [
        ("420", 16, 8, 8, 4),
        ("420jpeg", 16, 8, 8, 4),
        ("420mpeg2", 16, 8, 8, 4),
        ("420paldv", 16, 8, 8, 4),
        ("422", 16, 8, 8, 8),
        ("444", 16, 8, 16, 8),
    ],
)
def test_chroma_roundtrip(cs, w, h, cw, ch):
    y = bytes(range(w * h % 256)) + bytes(w * h - (w * h % 256))
    y = y[: w * h]
    u = bytes([7] * (cw * ch))
    v = bytes([250] * (cw * ch))
    d = decode_y4m(
        synth_y4m(
            w, h, [(y, u, v), (y, u, v)],
            colorspace=cs, fps=(30000, 1001), interlace="t", aspect=(4, 3),
        )
    )
    assert d is not None
    assert d["colorspace"] == cs
    assert (d["fps_num"], d["fps_den"]) == (30000, 1001)
    assert d["interlace"] == "t"
    assert d["aspect"] == (4, 3)
    assert len(d["frames"]) == 2
    fr = d["frames"][1]
    assert fr["y"].shape == (h, w) and fr["y"].tobytes() == y
    assert fr["u"].shape == (ch, cw) and fr["u"].tobytes() == u
    assert fr["v"].shape == (ch, cw) and fr["v"].tobytes() == v


def test_header_params_do_not_touch_content():
    """Re-containerizing the same frames under different header
    parameters (frame rate, interlace, aspect) must decode to identical
    planes — the property that makes the hash families robust to
    metadata-only re-encodes (a re-stamped clip still dedups)."""
    y = bytes(range(72))
    a = decode_y4m(synth_y4m(9, 8, [(y, None, None)] * 2, colorspace="mono"))
    b = decode_y4m(
        synth_y4m(
            9, 8, [(y, None, None)] * 2,
            colorspace="mono", fps=(30000, 1001), interlace="b",
            aspect=(16, 9),
        )
    )
    assert (b["fps_num"], b["fps_den"], b["interlace"], b["aspect"]) == (
        30000, 1001, "b", (16, 9),
    )
    for fa, fb in zip(a["frames"], b["frames"]):
        assert fa["y"].tobytes() == fb["y"].tobytes()
        assert pool_dhash_from_gray(fa["y"]) == pool_dhash_from_gray(fb["y"])


def test_header_grammar_edges():
    # X extensions ignored; frame-level params ignored; C absent → 420
    ok = b"YUV4MPEG2 W2 H2 Xmeta=1\nFRAME Xfoo bar\n" + bytes(6)
    d = decode_y4m(ok)
    assert d is not None and d["colorspace"] == "420"
    assert len(d["frames"]) == 1


# ---------------------------------------------------------------------------
# quarantine vs loud-gate contract
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "buf",
    [
        b"JUNK",  # bad magic
        b"YUV4MPEG2",  # no header newline
        b"YUV4MPEG2bad W9 H8 Cmono\n" + b"FRAME\n" + bytes(72),  # fused magic
        b"YUV4MPEG2 W9 Cmono\nFRAME\n" + bytes(72),  # missing H
        b"YUV4MPEG2 W9 H8 Cmono Z1\nFRAME\n" + bytes(72),  # unknown tag
        b"YUV4MPEG2 Wx H8 Cmono\nFRAME\n" + bytes(72),  # non-integer W
        b"YUV4MPEG2 W0 H8 Cmono\nFRAME\n" + bytes(72),  # non-positive dim
        b"YUV4MPEG2 W9 H8 Fa:b Cmono\nFRAME\n" + bytes(72),  # bad rate
        b"YUV4MPEG2 W9 H8 Cmono\nGARBAGE\n" + bytes(72),  # bad marker
        b"YUV4MPEG2 W9 H8 Cmono\nFRAMEx\n" + bytes(72),  # fused params
        b"YUV4MPEG2 W9 H8 Cmono\nFRAME\n" + bytes(71),  # truncated frame
        b"YUV4MPEG2 W9 H8 Cmono\nFRAME" ,  # unterminated marker
        b"YUV4MPEG2 W9 H8 C420\nFRAME\n" + bytes(108),  # odd dims for 420
    ],
)
def test_malformed_returns_none(buf):
    assert decode_y4m(buf) is None


def test_unimplemented_colorspace_raises_loudly():
    with pytest.raises(NotImplementedError):
        decode_y4m(b"YUV4MPEG2 W8 H8 C411\nFRAME\n" + bytes(96))


def test_decoder_fuzz_never_raises_unexpected():
    """Quarantine contract under mutation (the jpegcodec fuzz idiom):
    random byte corruptions of valid Y4M streams — and pure garbage —
    must yield a dict or None, or NotImplementedError when the mutation
    rewrites the colorspace token, never any other exception."""
    rng = np.random.RandomState(7)
    y = bytes(range(128)) + bytes(range(128))
    bases = [
        synth_y4m_mono(b"fuzz me gently, container walker", 4),
        synth_y4m(16, 16, [(y, bytes(64), bytes(64))] * 2, colorspace="420"),
        synth_y4m(16, 16, [(y, bytes(128), bytes(128))], colorspace="422"),
    ]
    for base in bases:
        for _ in range(100):
            buf = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                buf[rng.randint(0, len(buf))] = rng.randint(0, 256)
            try:
                d = decode_y4m(bytes(buf))
                assert d is None or isinstance(d, dict)
            except NotImplementedError:
                pass  # mutation rewrote the C token: loud by contract
    for n in (0, 1, 2, 10, 100, 1000):
        blob = bytes(rng.randint(0, 256, n, dtype=np.uint8).tolist())
        assert decode_y4m(blob) is None
        d = decode_y4m(b"YUV4MPEG2 " + blob)
        assert d is None or isinstance(d, dict)


# ---------------------------------------------------------------------------
# planted-twin pair contract + plan shape
# ---------------------------------------------------------------------------


def test_twin_perturbation_flips_at_most_two_bits_per_frame():
    """Every rotation of the tiled raster contains the perturbed byte
    exactly once, so each frame's hash moves by <= 2 bits — the lemma
    q99zzr's planted positives rest on."""
    s = _tile(b"some deterministic corpus text for the lemma!")
    for p in (0, 17, 71):  # first, middle, last position
        t = bytearray(s)
        t[p] = 33 + ((t[p] + 13) % 90)
        for f in range(_VID_PAIR_FRAMES):
            off = (f * _VID_STEP) % _VID_CELLS
            a = np.frombuffer(s[off:] + s[:off], np.uint8).reshape(8, 9)
            b = np.frombuffer(
                bytes(t[off:] + t[:off]), np.uint8
            ).reshape(8, 9)
            ha, hb = pool_dhash_from_gray(a), pool_dhash_from_gray(b)
            ham = bin(ha[0] ^ hb[0]).count("1") + bin(ha[1] ^ hb[1]).count("1")
            assert ham <= 2, (p, f, ham)


def test_planted_twin_videos_pair_on_both_keyframes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    planted = {
        r[0]
        for r in docs.filter(
            (F.col("doc_id") % _TWIN_MOD == 0) & (F.length("text") > 0)
        ).select("doc_id").collect()
    }
    assert planted
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_matched_frames"], r["total_hamming"])
        for r in q99zzr_video_near_dup_pairs(spark, sf_dir).collect()
    }
    n_keyframes = -(-_VID_PAIR_FRAMES // _VID_SAMPLE)
    assert n_keyframes == _VID_MIN_MATCHED
    for d in planted:
        key = (d, d + _TWIN_OFFSET)
        assert key in got, d
        matched, total = got[key]
        assert matched == n_keyframes, (d, matched)
        assert total <= 2 * n_keyframes, (d, total)


def test_video_pair_plan_is_banded_equi_join(spark, sf_dir):
    plan = (
        all_queries()["q99zzr_video_near_dup_pairs"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scene_cuts_static_clip_is_not_cut(spark, tmp_path):
    """q99zzu's FALSE branch, pinned with a planted static clip (the
    r15 wide-pair lesson: never leave a branch verified only by its
    absence): a text whose tiled raster has period 2 is invariant under
    the keyframe rotation (18 ≡ 0 mod 2), so consecutive keyframes are
    identical — hamming_prev 0, is_cut false — while an aperiodic text
    cuts. Uses the registered query over a planted parquet dir."""
    from allora_indexer_spark.operators.video import q99zzu_video_scene_cuts

    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        # doc 8: "ab" tiles to period-2 raster (static clip, 6 frames ->
        # keyframes 0,2,4); doc 9: aperiodic text (moving clip)
        [(8, "ab"), (9, "the quick brown fox jumps over the lazy dog!")],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.parquet(str(d))
    rows = q99zzu_video_scene_cuts(spark, str(tmp_path)).collect()
    static = [r for r in rows if r["doc_id"] == 8]
    moving = [r for r in rows if r["doc_id"] == 9]
    assert static and all(
        r["hamming_prev"] == 0 and not r["is_cut"] for r in static
    )
    assert moving and all(r["is_cut"] for r in moving)


# ---------------------------------------------------------------------------
# streaming store: the VIDEO modality
# ---------------------------------------------------------------------------


def test_incremental_video_hash_near_dup_cross_batch(spark, tmp_path):
    """The streaming hash store's VIDEO modality: keyframes enter as
    composite per-frame items (video*8 + frame_idx — the one-hash-per-
    item invariant the store's deterministic popcount rests on), so a
    batch-2 one-char-perturbed twin of a batch-1 video pairs on EVERY
    sampled keyframe, an intra-batch exact duplicate pairs at hamming 0
    per keyframe, and a redelivered video is dropped whole."""
    import numpy as np

    from allora_indexer_spark.plans import warehouse as _wh
    from allora_indexer_spark.streaming import stream

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")

    # 521 chars → n_frames = 2 + 521 % 5 = 3 → sampled keyframes {0, 2};
    # the perturbed char index 50 < 72 lands in the tiled raster once
    rng = np.random.RandomState(3)
    base = "".join(chr(97 + rng.randint(0, 26)) for _ in range(521))
    near = base[:50] + ("z" if base[50] != "z" else "y") + base[51:]
    other = "".join(chr(97 + rng.randint(0, 26)) for _ in range(521))
    spark.createDataFrame(
        [(1, base), (2, other)], "doc_id LONG, text STRING"
    ).coalesce(1).write.parquet(str(docs_dir / "b1"))
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt, modality="video"
    )
    q.awaitTermination(300)
    assert _wh.read_dir(spark, pairs_dir).count() == 0
    # 2 videos x 2 keyframes = 4 composite items
    assert (
        _wh.read_dir(spark, sig_dir).select("doc_id").distinct().count() == 4
    )

    dup = "".join(chr(97 + rng.randint(0, 26)) for _ in range(521))
    spark.createDataFrame(
        [(10, near), (11, dup), (12, dup), (1, base)],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.parquet(str(docs_dir / "b2"))
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt, modality="video"
    )
    q.awaitTermination(300)

    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in _wh.read_dir(spark, pairs_dir).collect()
    }
    for f in (0, 2):  # every sampled keyframe of the twin pairs
        assert (1 * 8 + f, 10 * 8 + f) in got, f"keyframe {f} twin missed"
        assert got[(1 * 8 + f, 10 * 8 + f)] <= 2
        assert got[(11 * 8 + f, 12 * 8 + f)] == 0, "exact dup keyframe"
    video_pairs = {(a // 8, b // 8) for a, b in got}
    assert video_pairs == {(1, 10), (11, 12)}
    # the downstream rollup over the REAL pairs store applies the
    # matched-keyframe floor and lands exactly the two video pairs
    from allora_indexer_spark.operators.video import video_pairs_rollup

    rolled = {
        (r["video_a"], r["video_b"]): r["n_matched_frames"]
        for r in video_pairs_rollup(
            _wh.read_dir(spark, pairs_dir)
        ).collect()
    }
    assert rolled == {(1, 10): 2, (11, 12): 2}
    sigs = _wh.read_dir(spark, sig_dir)
    # 5 distinct videos x 2 keyframes; video 1's redelivery dropped whole
    assert sigs.select("doc_id").distinct().count() == 10

    # replay with the same checkpoint: nothing new (T3 effectively-once)
    q = stream.start_incremental_hash_near_dup(
        spark, str(docs_dir), pairs_dir, sig_dir, ckpt, modality="video"
    )
    q.awaitTermination(300)
    assert _wh.read_dir(spark, pairs_dir).count() == len(got)
    assert sigs.select("doc_id").distinct().count() == 10


def test_video_pairs_rollup_applies_floor_and_drops_within_video(spark):
    """The downstream half of the streaming video pipeline: composite
    keyframe-pair rows roll up to video pairs with q99zzr's
    matched-keyframe floor; within-video frame matches (static scenes)
    are dropped, and a single-keyframe match stays below the floor."""
    from allora_indexer_spark.operators.video import video_pairs_rollup

    rows = [
        # videos 1 and 10 match on keyframes 0 and 2
        (1 * 8 + 0, 10 * 8 + 0, 2),
        (1 * 8 + 2, 10 * 8 + 2, 1),
        # videos 3 and 4 match on one keyframe only: below the floor
        (3 * 8 + 0, 4 * 8 + 0, 0),
        # video 5's frame 0 matches its own frame 2: within-video, dropped
        (5 * 8 + 0, 5 * 8 + 2, 1),
    ]
    pairs = spark.createDataFrame(
        rows, "doc_a LONG, doc_b LONG, hamming INT"
    )
    got = {
        (r["video_a"], r["video_b"]): (r["n_matched_frames"], r["min_hamming"])
        for r in video_pairs_rollup(pairs).collect()
    }
    assert got == {(1, 10): (2, 1)}


def test_video_store_rejects_wide_plans_and_wrong_modality(spark, tmp_path):
    from allora_indexer_spark.operators.multimodal import mih_band_plan
    from allora_indexer_spark.operators.video import video_signature_frame
    from allora_indexer_spark.streaming import stream

    wide = mih_band_plan(10**9)
    assert wide["band_bits"] > 16
    with pytest.raises(ValueError, match="classic 4x16"):
        stream.merge_hash_near_dup_batch(
            spark,
            spark.createDataFrame([(1, "x")], "doc_id LONG, text STRING"),
            str(tmp_path / "p"),
            str(tmp_path / "s"),
            modality="video",
            plan=wide,
        )
    with pytest.raises(ValueError, match="classic 4x16"):
        video_signature_frame(
            spark.createDataFrame([(1, "x")], "doc_id LONG, text STRING"),
            plan=wide,
        )
    # a video store reopened as image raises the geometry guard
    pairs_dir = str(tmp_path / "pairs")
    sig_dir = str(tmp_path / "sigs")
    b = spark.createDataFrame(
        [(1, "some video payload text!")], "doc_id LONG, text STRING"
    )
    stream.merge_hash_near_dup_batch(
        spark, b, pairs_dir, sig_dir, modality="video"
    )
    with pytest.raises(ValueError, match="geometry"):
        stream.merge_hash_near_dup_batch(
            spark, b, pairs_dir, sig_dir, modality="image"
        )
