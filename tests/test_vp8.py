"""Lossy-WebP (VP8 intra keyframe) codec tests — round 5.

The correctness spine is the CLOSED-LOOP contract (vp8.py docstring):
``decode_vp8_frame(encode_vp8_frame(img)) == encoder reconstruction``
for ANY input, plus pixel-EXACT roundtrip for macroblock-constant
images at qindex 0 (the property the webp_lossy_decode SQL oracle
restates in closed form).
"""

from __future__ import annotations

import random

import pytest

from legal_document_ocr_spark.vp8 import (
    BoolDecoder,
    BoolEncoder,
    decode_vp8_frame,
    encode_vp8_frame,
    encode_webp_lossy,
    fdct4x4,
    idct4x4,
    fwht4x4,
    iwht4x4,
    yuv420_to_rgb,
)


def test_bool_coder_randomized_roundtrip():
    """The arithmetic coder is the foundation everything else sits on:
    encode/decode must agree for arbitrary (bit, probability) sequences
    including extreme probabilities 1 and 255."""
    rng = random.Random(11)
    for _ in range(100):
        n = rng.randint(1, 500)
        bits = [rng.randint(0, 1) for _ in range(n)]
        probs = [rng.choice([1, 2, 64, 128, 200, 254, 255]) for _ in range(n)]
        be = BoolEncoder()
        for b, p in zip(bits, probs):
            be.put(b, p)
        bd = BoolDecoder(be.get_bytes())
        assert [bd.get(p) for p in probs] == bits


def test_transforms_invert_constants_exactly():
    """fdct/idct and fwht/iwht pairs: a constant-c residual block maps
    to DC=8c / AC=0 forward and recovers c exactly inverse — the
    arithmetic identity the qindex-0 exact-roundtrip oracle rests on."""
    for c in (-127, -1, 0, 1, 77, 127):
        co = fdct4x4([c] * 16)
        assert co[0] == 8 * c and all(v == 0 for v in co[1:])
        assert idct4x4([8 * c] + [0] * 15) == [c] * 16
    for d in (-100, 0, 63):
        y2 = fwht4x4([8 * d] * 16)
        assert y2[0] == 64 * d and all(v == 0 for v in y2[1:])
        assert iwht4x4([64 * d] + [0] * 15) == [8 * d] * 16


def _mb_constant_yuv(w: int, h: int, seed: int):
    mb_cols = (w + 15) >> 4
    y = bytes(
        (seed * 37 + ((yy >> 4) * mb_cols + (xx >> 4)) * 59) % 256
        for yy in range(h)
        for xx in range(w)
    )
    uvw, uvh = (w + 1) >> 1, (h + 1) >> 1
    flat = bytes([128]) * (uvw * uvh)
    return y, flat, flat


@pytest.mark.parametrize("mode", [0, 1, 2, 3])
@pytest.mark.parametrize("dims", [(32, 32), (24, 20), (39, 31), (16, 16)])
def test_mb_constant_qindex0_roundtrip_is_pixel_exact(mode, dims):
    """All four 16x16 intra predictors x aligned/unaligned dims: the
    oracle-bearing property."""
    w, h = dims
    y, u, v = _mb_constant_yuv(w, h, seed=mode * 97 + w)
    frame, recon = encode_vp8_frame(
        w, h, y, u, v, qindex=0, ymode=mode, uvmode=mode
    )
    dec = decode_vp8_frame(frame)
    assert dec["y"] == y == recon["y"]
    assert dec["u"] == u and dec["v"] == v


@pytest.mark.parametrize("qindex", [0, 20, 80, 127])
def test_closed_loop_contract_on_random_images(qindex):
    """For ARBITRARY pixels at any quantizer the decoder must reproduce
    the encoder's closed-loop reconstruction bit-exactly (lossy vs the
    source, never vs the reconstruction)."""
    rng = random.Random(qindex + 5)
    w, h = 48, 33
    uvw, uvh = 24, 17
    y = bytes(rng.randrange(256) for _ in range(w * h))
    u = bytes(rng.randrange(256) for _ in range(uvw * uvh))
    v = bytes(rng.randrange(256) for _ in range(uvw * uvh))
    frame, recon = encode_vp8_frame(w, h, y, u, v, qindex=qindex)
    dec = decode_vp8_frame(frame)
    assert dec["y"] == recon["y"]
    assert dec["u"] == recon["u"]
    assert dec["v"] == recon["v"]


@pytest.mark.parametrize("submode", list(range(10)))
def test_b_pred_all_submodes_closed_loop(submode):
    """Every per-4x4 B_PRED submode (DC/TM/VE/HE + the six diagonals)
    must satisfy the closed-loop contract on random pixels — the
    predictor code is shared encoder/decoder, so this pins both."""
    from legal_document_ocr_spark.vp8 import B_PRED

    rng = random.Random(submode + 31)
    w, h = 40, 36
    y = bytes(rng.randrange(256) for _ in range(w * h))
    u = bytes(rng.randrange(256) for _ in range(20 * 18))
    v = bytes(rng.randrange(256) for _ in range(20 * 18))
    frame, recon = encode_vp8_frame(
        w, h, y, u, v, qindex=15, ymode=B_PRED, b_modes=submode
    )
    dec = decode_vp8_frame(frame)
    assert dec["y"] == recon["y"] and dec["u"] == recon["u"]


def test_b_pred_mixed_submodes_and_4x4_constant_exactness():
    """Mixed per-subblock submodes exercise the neighbor-context mode
    coding; a 4x4-constant image under B_DC at qindex 0 roundtrips
    pixel-exactly (constant residuals quantize losslessly through the
    in-block DC path — no Y2 for B_PRED)."""
    from legal_document_ocr_spark.vp8 import B_PRED

    rng = random.Random(77)
    w, h = 40, 36
    y = bytes(rng.randrange(256) for _ in range(w * h))
    u = bytes(rng.randrange(256) for _ in range(20 * 18))
    v = bytes(rng.randrange(256) for _ in range(20 * 18))
    mix = [(i * 7 + 3) % 10 for i in range(16)]
    frame, recon = encode_vp8_frame(
        w, h, y, u, v, qindex=0, ymode=B_PRED, b_modes=mix
    )
    dec = decode_vp8_frame(frame)
    assert dec["y"] == recon["y"]

    const4 = bytes(
        ((yy // 4) * 31 + (xx // 4) * 17) % 256
        for yy in range(32)
        for xx in range(32)
    )
    flat = bytes([128]) * 256
    frame, recon = encode_vp8_frame(
        32, 32, const4, flat, flat, qindex=0, ymode=B_PRED, b_modes=0
    )
    dec = decode_vp8_frame(frame)
    assert dec["y"] == const4 == recon["y"]
    with pytest.raises(ValueError, match="16-list"):
        encode_vp8_frame(
            32, 32, const4, flat, flat, ymode=B_PRED, b_modes=[0, 1]
        )


@pytest.mark.parametrize("parts", [2, 4, 8])
def test_multi_partition_token_streams(parts):
    """RFC §9.5 row-interleaved token partitions: size records + per-row
    stream selection must reproduce the single-partition reconstruction
    exactly (same closed-loop output, different container layout)."""
    rng = random.Random(parts)
    w, h = 40, 68  # 3 x 5 macroblocks (> parts rows for real interleave)
    y = bytes(rng.randrange(256) for _ in range(w * h))
    u = bytes(rng.randrange(256) for _ in range(20 * 34))
    v = bytes(rng.randrange(256) for _ in range(20 * 34))
    f1, rc1 = encode_vp8_frame(w, h, y, u, v, qindex=25)
    fn, rcn = encode_vp8_frame(
        w, h, y, u, v, qindex=25, token_partitions=parts
    )
    assert rc1["y"] == rcn["y"]  # partitioning never changes pixels
    dec = decode_vp8_frame(fn)
    assert dec["y"] == rcn["y"] and dec["u"] == rcn["u"]
    with pytest.raises(ValueError, match="token_partitions"):
        encode_vp8_frame(w, h, y, u, v, token_partitions=3)


def test_webp_container_dispatch_and_rgb_conversion():
    """encode_webp_lossy wraps a decodable RIFF container; flat-128
    chroma converts to exact gray (r=g=b=Y) through the JFIF path."""
    from legal_document_ocr_spark.codecs import decode_image

    y, u, v = _mb_constant_yuv(32, 32, seed=9)
    webp, recon = encode_webp_lossy(32, 32, y, u, v)
    img = decode_image(webp)
    assert img["mode"] == "RGB"
    assert img["width"] == 32 and img["height"] == 32
    assert img["pixels"] == bytes(
        c for px in recon["y"] for c in (px, px, px)
    )
    rgb = yuv420_to_rgb(decode_vp8_frame(webp[20:]))
    assert rgb["pixels"] == img["pixels"]


@pytest.mark.parametrize("lvl,sharp", [(10, 0), (25, 3), (40, 0), (63, 7)])
def test_loop_filter_closed_loop(lvl, sharp):
    """The normal in-loop deblocker: decoder output must equal the
    encoder's filtered reconstruction at every (level, sharpness), for
    both 16x16 and B_PRED macroblocks."""
    from legal_document_ocr_spark.vp8 import B_PRED

    rng = random.Random(lvl)
    w, h = 48, 36
    y = bytes(rng.randrange(256) for _ in range(w * h))
    u = bytes(rng.randrange(256) for _ in range(24 * 18))
    v = bytes(rng.randrange(256) for _ in range(24 * 18))
    f, rc = encode_vp8_frame(
        w, h, y, u, v, qindex=60, filter_level=lvl, sharpness=sharp
    )
    d = decode_vp8_frame(f)
    assert d["y"] == rc["y"] and d["u"] == rc["u"] and d["v"] == rc["v"]
    f, rc = encode_vp8_frame(
        w, h, y, u, v, qindex=40, ymode=B_PRED, b_modes=5,
        filter_level=lvl, sharpness=sharp,
    )
    d = decode_vp8_frame(f)
    assert d["y"] == rc["y"] and d["u"] == rc["u"]


def test_loop_filter_actually_deblocks_smooth_content():
    """On a smooth gradient coarsely quantized (visible blocking), the
    filter must (a) modify pixels and (b) reduce mean reconstruction
    error vs the source — i.e. behave as a deblocker, not a no-op and
    not noise."""
    w, h = 48, 36
    y = bytes(min(255, (xx + yy) * 2) for yy in range(h) for xx in range(w))
    flat = bytes([128]) * (24 * 18)
    _, rc0 = encode_vp8_frame(w, h, y, flat, flat, qindex=100)
    f1, rc1 = encode_vp8_frame(
        w, h, y, flat, flat, qindex=100, filter_level=30
    )
    assert decode_vp8_frame(f1)["y"] == rc1["y"]
    assert rc1["y"] != rc0["y"]
    err0 = sum(abs(a - b) for a, b in zip(rc0["y"], y))
    err1 = sum(abs(a - b) for a, b in zip(rc1["y"], y))
    assert err1 < err0


@pytest.mark.parametrize("lvl", [10, 40, 63])
def test_simple_filter_closed_loop_and_luma_only(lvl):
    """filter_type=1: the simple variant filters luma only; decoder
    output must equal the encoder's simply-filtered reconstruction."""
    import random as _r

    rng = _r.Random(lvl)
    w, h = 48, 36
    y = bytes(min(255, (xx + yy) * 2) for yy in range(h) for xx in range(w))
    u = bytes(rng.randrange(256) for _ in range(24 * 18))
    v = bytes(rng.randrange(256) for _ in range(24 * 18))
    f, rc = encode_vp8_frame(
        w, h, y, u, v, qindex=100, filter_level=lvl, simple_filter=True
    )
    d = decode_vp8_frame(f)
    assert d["y"] == rc["y"] and d["u"] == rc["u"]
    _, rc0 = encode_vp8_frame(w, h, y, u, v, qindex=100)
    assert rc["y"] != rc0["y"]   # luma filtered
    assert rc["u"] == rc0["u"]   # chroma untouched


def test_segmentation_per_segment_quant_and_filter():
    """Segmentation: tree-coded per-MB segment ids select per-segment
    quantizers and filter levels (absolute mode). Closed-loop must hold
    across a 4-segment checkerboard, and the fine-quant segment must
    reconstruct closer to the source than the coarse one (the feature
    does what it claims)."""
    import random as _r

    from legal_document_ocr_spark.vp8 import B_PRED

    rng = _r.Random(12)
    w, h = 64, 48
    y = bytes(min(255, (xx + yy) * 2) for yy in range(h) for xx in range(w))
    u = bytes(rng.randrange(256) for _ in range(32 * 24))
    v = bytes(rng.randrange(256) for _ in range(32 * 24))
    mb_rows, mb_cols = 3, 4
    segmap = [
        [(mr + mc) % 4 for mc in range(mb_cols)] for mr in range(mb_rows)
    ]
    frame, rc = encode_vp8_frame(
        w, h, y, u, v, qindex=60, segment_map=segmap,
        segment_q=[0, 40, 80, 120], segment_lf=[0, 10, 30, 63],
    )
    d = decode_vp8_frame(frame)
    assert d["y"] == rc["y"] and d["u"] == rc["u"] and d["v"] == rc["v"]

    def seg_err(seg):
        return sum(
            abs(rc["y"][(mr * 16 + r) * w + mc * 16 + c]
                - y[(mr * 16 + r) * w + mc * 16 + c])
            for mr in range(mb_rows)
            for mc in range(mb_cols)
            if segmap[mr][mc] == seg
            for r in range(16)
            for c in range(16)
        )

    assert seg_err(0) < seg_err(3)
    frame, rc = encode_vp8_frame(
        w, h, y, u, v, ymode=B_PRED, b_modes=4, segment_map=segmap,
        segment_q=[10, 30, 50, 70], segment_lf=[5, 15, 25, 35],
    )
    assert decode_vp8_frame(frame)["y"] == rc["y"]


def test_fuzz_malformed_input_raises_valueerror_only():
    """Garbage / truncated / bit-flipped streams must raise ValueError
    or NotImplementedError — never IndexError or a hang: a crafted
    header declaring 16383x16383 hits the MAX_IMAGE_PIXELS bound (the
    PNG decompression-bomb contract), and short payloads fail the
    bits-per-macroblock plausibility check before the MB loop."""
    rng = random.Random(9)
    y = bytes([7]) * 256
    flat = bytes([128]) * 64
    frame, _ = encode_vp8_frame(16, 16, y, flat, flat)
    for trial in range(600):
        mode = trial % 3
        if mode == 0:
            data = bytes(
                rng.randrange(256) for _ in range(rng.randint(0, 40))
            )
        elif mode == 1:
            data = frame[: rng.randint(0, len(frame))]
        else:
            b = bytearray(frame)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            data = bytes(b)
        try:
            decode_vp8_frame(data)
        except (ValueError, NotImplementedError):
            pass


def test_declared_boundaries_raise_not_silently():
    """Interframes and malformed headers fail loudly (the per-record
    error column depends on the raise, not on silence)."""
    y, u, v = _mb_constant_yuv(16, 16, seed=1)
    frame, _ = encode_vp8_frame(16, 16, y, u, v)
    inter = bytes([frame[0] | 1]) + frame[1:]
    with pytest.raises(NotImplementedError, match="interframe"):
        decode_vp8_frame(inter)
    with pytest.raises(ValueError, match="start code"):
        decode_vp8_frame(frame[:3] + b"\x00\x00\x00" + frame[6:])
    with pytest.raises(ValueError, match="truncated"):
        decode_vp8_frame(frame[:5])


def test_truncated_partitions_raise():
    """A keyframe cut short inside the first partition, or inside a token
    partition whose size is declared, raises instead of decoding the
    short read as zero bits into wrong pixels."""
    rng = random.Random(5)
    w, h = 40, 68
    y = bytes(rng.randrange(256) for _ in range(w * h))
    u = bytes(rng.randrange(256) for _ in range(20 * 34))
    v = bytes(rng.randrange(256) for _ in range(20 * 34))

    def part1_end(frame):
        return 10 + ((frame[0] | frame[1] << 8 | frame[2] << 16) >> 5)

    frame, _ = encode_vp8_frame(w, h, y, u, v, qindex=25)
    with pytest.raises(ValueError, match="truncated VP8 first partition"):
        decode_vp8_frame(frame[: part1_end(frame) - 4])
    frame, _ = encode_vp8_frame(w, h, y, u, v, qindex=25, token_partitions=4)
    tok = part1_end(frame)
    size0 = frame[tok] | frame[tok + 1] << 8 | frame[tok + 2] << 16
    with pytest.raises(ValueError, match="truncated VP8 token partition$"):
        decode_vp8_frame(frame[: tok + 9 + size0 // 2])
