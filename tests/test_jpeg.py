"""Baseline JPEG codec (functions/jpegcodec.py) and its Spark plumbing
(multimodal.synthesize_jpeg / image_pixel_extremes / resize path).

The correctness spine is the determinism theorem the q68 oracle leans
on: block-constant grayscale at quality 100 round-trips BIT-EXACTLY
through the lossy pipeline (integer DC, zero AC, unit quant tables).
Around it: tolerance-bounded round-trips for arbitrary content, marker
/ subset guardrails, and container interop with the sniffing decode
entry point."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.functions import jpegcodec
from evm_indexer_spark.functions.jpegcodec import (
    QUANT_LUMA,
    ZIGZAG,
    jpeg_decode,
    jpeg_encode,
    quant_tables_for_quality,
)
from evm_indexer_spark.operators import multimodal
from evm_indexer_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._nbits = 0

    def read_bit(self) -> int:
        if not self._nbits:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                self.pos += 1  # skip the stuffed 0x00
            self._acc = byte
            self._nbits = 8
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(bits: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


class _HuffWalk:
    """Canonical-code decoder: walks bits, matching against per-length
    first-code offsets (T.81 F.2.2.3 DECODE)."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.min_code = [0] * 17
        self.max_code = [-1] * 17
        self.val_ptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                self.val_ptr[length] = k
                self.min_code[length] = code
                code += n
                k += n
                self.max_code[length] = code - 1
            code <<= 1
        self.vals = vals

    def decode(self, reader: _BitReader) -> int:
        code = reader.read_bit()
        length = 1
        while code > self.max_code[length]:
            if length >= 16:
                raise ValueError("invalid Huffman code in stream")
            code = (code << 1) | reader.read_bit()
            length += 1
        return self.vals[self.val_ptr[length] + code - self.min_code[length]]


def _decode_scan_bitloop(
    scan, comps, scan_tables, htables, restart_interval, mcx, mcy
) -> list[np.ndarray]:
    """Reference entropy decoder: the per-bit reader + canonical-offset
    walk (T.81 F.2.2.3 verbatim), with ``jpegcodec._decode_scan_lut``'s
    signature and output, so a test can swap it in for the LUT path."""
    walks = {k: _HuffWalk(d.bits, d.vals) for k, d in htables.items()}
    reader = _BitReader(scan)
    ncomp = len(comps)
    out = [
        np.zeros((mcx * mcy * hs * vs, 64), dtype=np.int64)
        for _, _, hs, vs in comps
    ]
    fill = [0] * ncomp
    preds = [0] * ncomp
    rst = 0
    for m in range(mcx * mcy):
        if restart_interval and m and m % restart_interval == 0:
            # byte-align past the pad bits, consume RSTn, reset DC preds
            reader._nbits = 0
            reader._acc = 0
            if not (
                reader.pos + 1 < len(reader.data)
                and reader.data[reader.pos] == 0xFF
                and 0xD0 <= reader.data[reader.pos + 1] <= 0xD7
            ):
                raise ValueError("expected restart marker in scan")
            if reader.data[reader.pos + 1] & 7 != rst % 8:
                raise ValueError("restart marker out of sequence")
            reader.pos += 2
            rst += 1
            preds = [0] * ncomp
        for ci in range(ncomp):
            dc_dec = walks[(0, scan_tables[ci][0])]
            ac_dec = walks[(1, scan_tables[ci][1])]
            _, _, hs, vs = comps[ci]
            arr = out[ci]
            for _ in range(hs * vs):
                zz = arr[fill[ci]]
                fill[ci] += 1
                size = dc_dec.decode(reader)
                preds[ci] += _extend(reader.read_bits(size), size)
                zz[0] = preds[ci]
                k = 1
                while k < 64:
                    sym = ac_dec.decode(reader)
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0x0F
                    if size == 0:
                        if run != 15:
                            raise ValueError("invalid AC symbol")
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("AC run overflows block")
                    zz[k] = _extend(reader.read_bits(size), size)
                    k += 1
    return out


def _decode_bitloop(data: bytes, monkeypatch) -> np.ndarray:
    """``jpeg_decode`` with the reference entropy decoder swapped in."""
    with monkeypatch.context() as m:
        m.setattr(jpegcodec, "_decode_scan_lut", _decode_scan_bitloop)
        return jpeg_decode(data)


def _blocky(vals: np.ndarray) -> np.ndarray:
    """Expand a (by, bx[, c]) block-value grid to 8x8-constant pixels."""
    if vals.ndim == 2:
        return np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    planes = [np.kron(vals[..., c], np.ones((8, 8), dtype=np.uint8))
              for c in range(vals.shape[-1])]
    return np.stack(planes, axis=-1)


# -- pure-codec tests -------------------------------------------------------


def test_zigzag_is_a_permutation_with_pinned_corners():
    assert sorted(ZIGZAG.tolist()) == list(range(64))
    # first five entries of the T.81 zig-zag: DC, then (0,1),(1,0),(2,0),(1,1)
    assert ZIGZAG[:5].tolist() == [0, 1, 8, 16, 9]
    assert ZIGZAG[63] == 63


def test_quality_scaling_endpoints():
    q100_l, q100_c = quant_tables_for_quality(100)
    assert (q100_l == 1).all() and (q100_c == 1).all()
    q50_l, _ = quant_tables_for_quality(50)
    assert (q50_l == QUANT_LUMA).all()  # scale 100% reproduces Annex K
    q10_l, _ = quant_tables_for_quality(10)
    assert (q10_l >= QUANT_LUMA).all()  # coarser than base
    with pytest.raises(ValueError):
        quant_tables_for_quality(0)


def test_blocky_grayscale_q100_roundtrip_is_exact():
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 256, size=(3, 5), dtype=np.uint8)
    img = _blocky(vals)
    out = jpeg_decode(jpeg_encode(img, quality=100))
    assert out.dtype == np.uint8 and out.shape == img.shape
    assert np.array_equal(out, img)


def test_blocky_rgb_q100_roundtrip_is_exact():
    # also exact in color: the YCbCr transform is float64 and the
    # inverse reconstructs within rounding for DC-only blocks
    rng = np.random.default_rng(13)
    vals = rng.integers(0, 256, size=(2, 3, 3), dtype=np.uint8)
    img = _blocky(vals)
    out = jpeg_decode(jpeg_encode(img, quality=100))
    assert np.array_equal(out, img)


def test_arbitrary_grayscale_q100_within_one_level():
    # non-constant blocks: only DCT/IDCT float rounding remains at
    # quality 100 (unit quant), so error is at most one pixel level
    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(24, 33), dtype=np.uint8)  # pad path
    out = jpeg_decode(jpeg_encode(img, quality=100))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1


def test_lossy_quality_psnr_and_size_monotonicity():
    h, w = 32, 40
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    img = np.stack(
        [
            np.broadcast_to((x + y) % 256, (h, w)),
            np.broadcast_to((2 * x) % 256, (h, w)),
            np.broadcast_to((y * 3) % 256, (h, w)),
        ],
        axis=-1,
    ).astype(np.uint8)
    out = jpeg_decode(jpeg_encode(img, quality=90))
    mse = ((out.astype(float) - img.astype(float)) ** 2).mean()
    psnr = 10 * np.log10(255.0**2 / max(mse, 1e-12))
    assert psnr > 35.0  # smooth gradients at q90 reconstruct well
    assert len(jpeg_encode(img, 30)) < len(jpeg_encode(img, 85))


def test_entropy_stream_survives_ff_bytes():
    # all-extreme images force long runs of 1-bits in the entropy
    # stream → stuffed 0xFF bytes; round-trip pins the stuffing logic
    img = np.full((8, 8), 255, dtype=np.uint8)
    img[0, 0] = 0  # large AC energy too
    payload = jpeg_encode(img, quality=95)
    assert b"\xff\xd8" == payload[:2] and payload.endswith(b"\xff\xd9")
    out = jpeg_decode(payload)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 30  # lossy but sane


def test_decoder_guardrails():
    img = np.zeros((8, 8), dtype=np.uint8)
    payload = bytearray(jpeg_encode(img, 90))
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"\x00\x01" + bytes(payload[2:]))
    # flip SOF0 → SOF2 (progressive): must refuse, not mis-decode
    idx = payload.find(b"\xff\xc0")
    payload[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        jpeg_decode(bytes(payload))
    with pytest.raises(ValueError):
        jpeg_encode(img.astype(np.int32))  # non-uint8 refused


# -- Spark plumbing ---------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 64
    ).cache()


def test_synthesize_jpeg_payloads_decode_to_formula(spark, docs):
    media = multimodal.synthesize_jpeg(docs, width=32, height=24, quality=100)
    rows = media.collect()
    assert len(rows) == docs.count()
    bxs = np.arange(4)
    bys = np.arange(3)[:, None]
    for r in rows[:8]:
        fmt, px = multimodal.decode_image_payload(bytes(r["payload"]))
        assert fmt == "jpeg" and px.shape == (24, 32)
        want = np.kron(
            ((r["doc_id"] * 7 + bxs * 13 + bys * 29) % 256).astype(np.uint8),
            np.ones((8, 8), dtype=np.uint8),
        )
        assert np.array_equal(px, want)


def test_image_pixel_extremes_matches_formula(spark, docs):
    media = multimodal.synthesize_jpeg(docs, width=32, height=24, quality=100)
    got = {
        r["doc_id"]: r
        for r in multimodal.image_pixel_extremes(media).collect()
    }
    bxs = np.arange(4)
    bys = np.arange(3)[:, None]
    for did, r in got.items():
        vals = (did * 7 + bxs * 13 + bys * 29) % 256
        assert (r["width"], r["height"]) == (32, 24)
        assert r["px_min"] == int(vals.min())
        assert r["px_max"] == int(vals.max())
        assert r["px_sum"] == int(vals.sum()) * 64


def test_resize_reencodes_jpeg_container(spark, docs):
    media = multimodal.synthesize_jpeg(
        docs.filter(F.col("doc_id") < 8), width=32, height=24, quality=100
    )
    small = multimodal.resize_image_payloads(media, 16, 8)
    for r in small.collect():
        fmt, px = multimodal.decode_image_payload(bytes(r["payload"]))
        assert fmt == "jpeg" and px.shape == (8, 16)


def test_pixel_stats_handles_jpeg_alongside_bmp_png(spark, docs):
    eight = docs.filter(F.col("doc_id") < 8)
    for media in (
        multimodal.synthesize_jpeg(eight, width=32, height=24),
        multimodal.synthesize_bmp(eight),
        multimodal.synthesize_png(eight),
    ):
        stats = multimodal.image_pixel_stats(media)
        assert stats.count() == 8  # sniffing decode covers all three


def test_jpeg_q100_property_bounded_error():
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @settings(max_examples=60, deadline=None)
    @given(
        arrays(
            np.uint8,
            st.tuples(
                st.integers(min_value=1, max_value=24),
                st.integers(min_value=1, max_value=24),
            ),
            elements=st.integers(min_value=0, max_value=255),
        )
    )
    def roundtrip(img):
        out = jpeg_decode(jpeg_encode(img, quality=100))
        assert out.shape == img.shape
        # unit quant still rounds each of the 64 coefficients to an
        # integer; those errors (each <= 0.5) can stack through the
        # IDCT to a few pixel levels on adversarial content (hypothesis
        # found maxdiff 2) — the BIT-EXACT claim is only ever made for
        # block-constant images (the q68 oracle theorem, tested above)
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 3

    roundtrip()


def test_restart_intervals_roundtrip_and_validation():
    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)  # 12 MCUs
    for ri in (1, 3, 5):
        enc = jpeg_encode(img, quality=100, restart_interval=ri)
        assert b"\xff\xdd" in enc and b"\xff\xd0" in enc
        out = jpeg_decode(enc)
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 3
    # DC prediction must genuinely reset: identical output either way
    assert np.array_equal(
        jpeg_decode(jpeg_encode(img, 100, restart_interval=2)),
        jpeg_decode(jpeg_encode(img, 100)),
    )
    # an out-of-sequence RSTn is a corruption signal, not silence
    enc = bytearray(jpeg_encode(img, 100, restart_interval=2))
    i = enc.find(b"\xff\xd0")
    enc[i + 1] = 0xD3
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg_decode(bytes(enc))


def test_420_subsampling_roundtrip_and_structure():
    h, w = 34, 50  # exercises MCU padding on both axes
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    img = np.stack(
        [
            np.broadcast_to((x + y) % 256, (h, w)),
            np.broadcast_to((2 * x) % 200, (h, w)),
            np.broadcast_to((y * 3) % 220, (h, w)),
        ],
        axis=-1,
    ).astype(np.uint8)
    enc = jpeg_encode(img, quality=90, subsampling="420")
    # SOF0 must carry 2x2 luma sampling (0x22) and a smaller payload
    sof = enc.find(b"\xff\xc0")
    assert enc[sof + 11] == 0x22  # first component's sampling byte
    assert len(enc) < len(jpeg_encode(img, quality=90))
    out = jpeg_decode(enc)
    assert out.shape == img.shape
    mse = ((out.astype(float) - img.astype(float)) ** 2).mean()
    assert 10 * np.log10(255.0**2 / max(mse, 1e-12)) > 35.0
    # restart intervals compose with subsampled MCUs
    out_r = jpeg_decode(
        jpeg_encode(img, quality=90, restart_interval=2, subsampling="420")
    )
    assert np.array_equal(out_r, out)
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_encode(img, subsampling="422")


def test_444_bit_identical_after_mcu_generalization():
    # the generic MCU path must reproduce the original 4:4:4 layout
    # exactly — q68's oracle theorem depends on it
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 256, size=(3, 5), dtype=np.uint8)
    img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    assert np.array_equal(jpeg_decode(jpeg_encode(img, 100)), img)


def test_lut_entropy_path_bit_identical_to_bitloop(monkeypatch):
    """The 16-bit-LUT entropy decoder (default) must produce pixels
    BIT-IDENTICAL to the per-bit scalar twin across content, quality,
    subsampling, and restart intervals — the flaccodec twin-pinning
    pattern applied to the round-11 Huffman vectorization."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @settings(max_examples=40, deadline=None)
    @given(
        arrays(
            np.uint8,
            st.tuples(
                st.integers(min_value=1, max_value=40),
                st.integers(min_value=1, max_value=40),
                st.just(3),
            ),
            elements=st.integers(min_value=0, max_value=255),
        ),
        st.sampled_from([50, 75, 90, 100]),
        st.sampled_from(["444", "420"]),
        st.sampled_from([0, 1, 3]),
    )
    def twin(img, quality, subsampling, dri):
        enc = jpeg_encode(
            img, quality=quality, subsampling=subsampling,
            restart_interval=dri,
        )
        assert np.array_equal(
            jpeg_decode(enc), _decode_bitloop(enc, monkeypatch)
        )

    twin()
    # grayscale leg
    gray = np.arange(64, dtype=np.uint8).reshape(8, 8)
    enc = jpeg_encode(gray, quality=85)
    assert np.array_equal(jpeg_decode(enc), _decode_bitloop(enc, monkeypatch))


def test_lut_path_error_parity_on_corrupt_streams(monkeypatch):
    # both entropy paths must REFUSE the same corrupt inputs: truncated
    # scan (exhaustion) and a stray marker inside entropy data
    img = np.full((16, 16), 200, dtype=np.uint8)
    img[0, :] = 3  # some AC energy so the scan has real length
    enc = jpeg_encode(img, quality=75)
    sos = enc.find(b"\xff\xda")
    cut = enc[: sos + 40]  # truncate inside the entropy segment
    for decode in (jpeg_decode, lambda b: _decode_bitloop(b, monkeypatch)):
        with pytest.raises(ValueError):
            decode(cut)
    # splice a bare marker into the scan: 'unexpected marker' on both
    bad = enc[: sos + 30] + b"\xff\xc8" + enc[sos + 30 :]
    for decode in (jpeg_decode, lambda b: _decode_bitloop(b, monkeypatch)):
        with pytest.raises(ValueError, match="marker|exhausted"):
            decode(bad)


def test_jpeg_header_dims_no_entropy_work(spark):
    """Header-only dims: matches the decoded shape for codec output,
    works on a truncated stream (header intact, entropy data gone —
    full decode would fail), rejects non-JPEG bytes."""
    import pytest

    from evm_indexer_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode,
        jpeg_header_dims,
    )

    px = (np.arange(24 * 32, dtype=np.uint8) % 251).reshape(24, 32)
    enc = jpeg_encode(px, quality=90)
    assert jpeg_header_dims(enc) == (24, 32, 1)
    assert jpeg_decode(enc).shape == (24, 32)
    rgb = np.stack([px, px[::-1], px[:, ::-1]], axis=-1)
    assert jpeg_header_dims(jpeg_encode(rgb, quality=90)) == (24, 32, 3)
    # truncate right after the SOF area: dims still parse, decode can't
    sos = enc.find(b"\xff\xda")
    assert sos > 0
    assert jpeg_header_dims(enc[:sos]) == (24, 32, 1)
    with pytest.raises(ValueError):
        jpeg_decode(enc[:sos])
    with pytest.raises(ValueError):
        jpeg_header_dims(b"\x00\x01\x02\x03")


def test_image_extremes_decode_budget_cap_route(spark, docs):
    """The 100-TB cap route: payloads over the byte budget skip pixel
    decode and emit header dims + NULL stats + decoded=false; payloads
    under it are identical to the unbudgeted rows."""
    eight = docs.filter(F.col("doc_id") < 8)
    media = multimodal.synthesize_jpeg(eight, width=32, height=24, quality=100)
    base = {r["doc_id"]: r for r in multimodal.image_pixel_extremes(media).collect()}
    # generous budget: every row decodes, plus the decoded marker
    full = {
        r["doc_id"]: r
        for r in multimodal.image_pixel_extremes(
            media, decode_budget_bytes=10**6
        ).collect()
    }
    assert set(full) == set(base)
    for did, r in full.items():
        b = base[did]
        assert r["decoded"] is True
        assert (r["width"], r["height"], r["px_min"], r["px_max"], r["px_sum"]) \
            == (b["width"], b["height"], b["px_min"], b["px_max"], b["px_sum"])
    # tiny budget: every row takes the metadata path — true dims, no stats
    capped = {
        r["doc_id"]: r
        for r in multimodal.image_pixel_extremes(
            media, decode_budget_bytes=16
        ).collect()
    }
    for did, r in capped.items():
        assert r["decoded"] is False
        assert (r["width"], r["height"]) == (32, 24)
        assert r["px_min"] is None and r["px_max"] is None and r["px_sum"] is None


def test_jpeg_header_dims_property_matches_decode():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from evm_indexer_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode,
        jpeg_header_dims,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=10, max_value=100),
        st.booleans(),
        st.sampled_from(["444", "420"]),
    )
    def check(h, w, quality, rgb, subsampling):
        rng = np.random.default_rng(h * 41 + w)
        shape = (h, w, 3) if rgb else (h, w)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        enc = jpeg_encode(img, quality=quality, subsampling=subsampling)
        hh, ww, nc = jpeg_header_dims(enc)
        assert (hh, ww) == (h, w)
        assert nc == (3 if rgb else 1)
        assert jpeg_decode(enc).shape[:2] == (h, w)

    check()
