"""Property-based tests (hypothesis) for the pure-Python kernels the
Arrow stages depend on — the reference's test strategy leans on broad
generated cases (tests/test_cases manifest corpus); these generate them.
No Spark session needed: fast, wide input coverage."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xmlschema_spark import fakecodec
from xmlschema_spark.functions.xsd_regex import translate_xsd_pattern
from xmlschema_spark.operators.payload import _Scratch

DIMS = st.integers(min_value=1, max_value=96)
IDX = st.integers(min_value=0, max_value=2**63 - 1)
FMT = st.sampled_from(["png", "jpeg", "webp"])


@settings(max_examples=60, deadline=None)
@given(i=IDX, w=DIMS, h=DIMS, fmt=FMT)
def test_codec_roundtrip_and_psnr_floor(i, w, h, fmt):
    px = fakecodec.gen_pixels(i, w, h)
    buf = fakecodec.encode(px, fmt)
    f2, w2, h2, px2 = fakecodec.decode(buf)
    assert (f2, w2, h2) == (fmt, w, h)
    assert fakecodec.decode_header(buf) == (fmt, w, h)
    if fmt == "png":
        assert np.array_equal(px2, px)           # lossless exact
    else:
        # clean lossy re-encode must clear the 40dB gate (codec contract)
        assert fakecodec.psnr(px2, px) >= 40.0


@settings(max_examples=60, deadline=None)
@given(i=IDX, w=DIMS, h=DIMS,
       noise=st.integers(min_value=0, max_value=255),
       pos=st.integers(min_value=0, max_value=10**9))
def test_scratch_sse_matches_reference_psnr_math(i, w, h, noise, pos):
    """The scratch-buffer SSE must equal the reference formulation
    (int16 diff -> int32 square -> sum) for arbitrary corruptions."""
    exp = fakecodec.gen_pixels(i, w, h)
    got = exp.copy().reshape(-1)
    got[pos % got.size] = np.uint8(noise)
    s = _Scratch()
    s.ensure(got.size)
    ev = s.expected_view(i, w, h, got.size)
    sse = s.sse(got, ev)
    d = got.astype(np.int16) - exp.reshape(-1).astype(np.int16)
    want = int(np.square(d, dtype=np.int32).sum(dtype=np.int64))
    assert sse == want


@settings(max_examples=60, deadline=None)
@given(i=IDX, w=st.integers(min_value=2, max_value=64),
       h=st.integers(min_value=2, max_value=64))
def test_phash64_vectorized_matches_loop(i, w, h):
    """The reshape-vectorized phash64 must equal the original 8x8
    slice-loop formulation (round-1 behavior) wherever both are
    defined (h, w >= 8) and stay deterministic below."""
    px = fakecodec.gen_pixels(i, w, h)
    got = fakecodec.phash64(px)
    g = px.astype(np.float64).mean(axis=2)
    ph, pw = max(h // 8, 1), max(w // 8, 1)
    blocks = np.empty((8, 8))
    for by in range(8):
        for bx in range(8):
            blk = g[by * ph:(by + 1) * ph or None,
                    bx * pw:(bx + 1) * pw or None]
            blocks[by, bx] = blk.mean() if blk.size else np.nan
    bits = (blocks > np.nanmean(blocks) if np.isnan(blocks).any()
            else blocks > blocks.mean()).ravel()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    want = v - (1 << 64) if v >= (1 << 63) else v
    if h >= 8 and w >= 8:
        assert got == want
    else:
        assert got == fakecodec.phash64(px)      # deterministic fallback


_SAFE_LITERAL = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=20)


@settings(max_examples=60, deadline=None)
@given(s=_SAFE_LITERAL)
def test_xsd_pattern_literal_is_whole_match_anchored(s):
    """XSD implicit anchoring: a literal pattern matches exactly itself
    — not any superstring (java.util.regex semantics mirrored by re for
    this literal subset)."""
    import re
    pat = translate_xsd_pattern(s)
    assert re.match(pat, s)
    assert not re.match(pat, s + "x")
    assert not re.match(pat, "x" + s)


TEXTS = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80)


@settings(max_examples=120, deadline=None)
@given(s=TEXTS, n_bits=st.sampled_from([48, 64]))
def test_simhash_bits_match_spec(s, n_bits):
    """The shipped SimHash bit expansion (operators/text.simhash_bits)
    must match a naive reading of the documented spec: tokenize on
    Java \\s runs (trim spaces; [''] for empty), bit b of token t =
    bit (b % 4) of hex digit (b // 4) of md5(t), per-bit majority."""
    from text_hash_reference import spec_simhash_votes
    from xmlschema_spark.operators.text import simhash_bits
    assert list(simhash_bits([s], n_bits)[0]) == spec_simhash_votes(s, n_bits)
