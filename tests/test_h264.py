"""H.264 baseline I-frame codec (operators/h264.py): Exp-Golomb and
emulation-prevention round trips, I_PCM encode->decode EXACT in YUV
(the table-free self-check path), RGB wrapper tolerance, SPS cropping,
intra-prediction hand references, the inverse-transform DC identity,
CAVLC machinery through synthetic injected tables, and the named
seam/scope errors."""

from __future__ import annotations

import random

import pytest

from data_migration_etl_scripts_spark.operators import h264 as h


@pytest.fixture(autouse=True)
def _isolated_tables():
    saved = {k: dict(v) for k, v in h.CAVLC.items()}
    yield
    for k in h.CAVLC:
        h.CAVLC[k].clear()
        h.CAVLC[k].update(saved[k])


# ------------------------------------------------------------ bit layer

def test_exp_golomb_roundtrip():
    w = h._W()
    vals_ue = [0, 1, 2, 3, 7, 8, 254, 255, 1000]
    vals_se = [0, 1, -1, 2, -2, 17, -40]
    for v in vals_ue:
        w.ue(v)
    for v in vals_se:
        w.se(v)
    data = w.trailing()
    r = h._R(data)
    assert [r.ue() for _ in vals_ue] == vals_ue
    assert [r.se() for _ in vals_se] == vals_se


def test_emulation_prevention_roundtrip():
    rnd = random.Random(3)
    for _ in range(30):
        raw = bytes(rnd.choice([0, 0, 0, 1, 2, 3, 255])
                    for _ in range(rnd.randrange(1, 40)))
        esc = h._escape(raw)
        # no 00 00 0x pattern survives escaping
        for i in range(len(esc) - 2):
            assert not (esc[i] == 0 and esc[i + 1] == 0 and esc[i + 2] <= 2)
        assert h._unescape(esc) == raw


def test_nal_walk_both_start_codes():
    a = h._nal(b"\x11\x22", 3, 7)
    b3 = b"\x00\x00\x01" + bytes([(0 << 5) | 6]) + b"\x33"
    units = h.nal_units(a + b3)
    assert [(u[0], u[1], u[2]) for u in units] == [
        (3, 7, b"\x11\x22"), (0, 6, b"\x33")
    ]


# --------------------------------------------------------------- I_PCM

def _rand_planes(w, hgt, seed=1):
    rnd = random.Random(seed)
    ys = [[rnd.randrange(256) for _ in range(w)] for _ in range(hgt)]
    cbs = [[rnd.randrange(256) for _ in range((w + 1) // 2)]
           for _ in range((hgt + 1) // 2)]
    crs = [[rnd.randrange(256) for _ in range((w + 1) // 2)]
           for _ in range((hgt + 1) // 2)]
    return ys, cbs, crs


def test_ipcm_roundtrip_exact_multiple_of_16():
    ys, cbs, crs = _rand_planes(32, 16)
    b = h.encode_ipcm_yuv(ys, cbs, crs)
    w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)
    assert (w, hgt) == (32, 16)
    assert gy == ys and gcb == cbs and gcr == crs


def test_ipcm_roundtrip_with_cropping():
    # 20x12: pads to 32x16 MB grid, SPS cropping restores exact dims
    ys, cbs, crs = _rand_planes(20, 12, seed=7)
    b = h.encode_ipcm_yuv(ys, cbs, crs)
    w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)
    assert (w, hgt) == (20, 12)
    assert gy == ys and gcb == cbs and gcr == crs


def test_ipcm_rgb_wrapper_tolerance():
    rnd = random.Random(5)
    px = [[(rnd.randrange(256),) * 3 for _ in range(16)] for _ in range(16)]
    w, hgt, out = h.decode_iframe(h.encode_ipcm(px))
    assert (w, hgt) == (16, 16)
    # gray pixels survive BT.601 both ways within rounding
    for y in range(16):
        for x in range(16):
            for c in range(3):
                assert abs(out[y][x][c] - px[y][x][c]) <= 2, (x, y, c)


def test_stream_without_sps_raises():
    with pytest.raises(ValueError, match="SPS"):
        h.decode_iframe_yuv(b"\x00\x00\x00\x01\x65\x88")


def test_ipcm_roundtrip_property():
    """Property (hypothesis): ANY 4:2:0 planes at ANY even dims
    (multiples of 16 or not — cropping covers the rest) round-trip
    EXACTLY through encode_ipcm_yuv -> decode_iframe_yuv, including
    emulation-prevention-triggering byte patterns (runs of zeros)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.data())
    def run(data):
        rnd = data.draw(st.randoms(use_true_random=False))
        w = 2 * data.draw(st.integers(1, 24))
        hgt = 2 * data.draw(st.integers(1, 16))
        style = data.draw(st.sampled_from(["noise", "zeros", "edges"]))

        def plane(pw, ph):
            if style == "zeros":  # exercises emulation prevention
                return [[0 if rnd.random() < 0.8 else rnd.randrange(4)
                         for _ in range(pw)] for _ in range(ph)]
            if style == "edges":
                return [[(0, 255)[(x // 3 + y // 2) % 2]
                         for x in range(pw)] for y in range(ph)]
            return [[rnd.randrange(256) for _ in range(pw)]
                    for _ in range(ph)]

        ys = plane(w, hgt)
        cbs = plane(w // 2, hgt // 2)
        crs = plane(w // 2, hgt // 2)
        b = h.encode_ipcm_yuv(ys, cbs, crs)
        gw, gh, gy, gcb, gcr = h.decode_iframe_yuv(b)
        assert (gw, gh) == (w, hgt)
        assert gy == ys and gcb == cbs and gcr == crs

    run()


# ------------------------------------------------------ reconstruction

def test_itrans4_dc_only_is_flat():
    # DC-only input: inverse core transform emits a flat block of the
    # DC value; with the +32 >> 6 rounding, residual = (dc + 32) >> 6
    out = h._itrans4([[64, 0, 0, 0], [0] * 4, [0] * 4, [0] * 4])
    assert all(v == 64 for row in out for v in row)


def test_hadamard4_involution_scaled():
    # the 4x4 Hadamard is self-inverse up to x16
    rnd = random.Random(2)
    d = [[rnd.randrange(-50, 50) for _ in range(4)] for _ in range(4)]
    twice = h._hadamard4(h._hadamard4(d))
    assert all(twice[i][j] == 16 * d[i][j] for i in range(4) for j in range(4))


def test_pred16_modes_hand_references():
    top = list(range(100, 116))
    left = list(range(50, 66))
    v = h._pred16(0, top, None, None)
    assert v[0] == top and v[15] == top
    hz = h._pred16(1, None, left, None)
    assert [r[0] for r in hz] == left and [r[15] for r in hz] == left
    dc = h._pred16(2, top, left, None)
    want = (sum(top) + sum(left) + 16) >> 5
    assert dc[3][9] == want
    assert h._pred16(2, None, None, None)[0][0] == 128


def test_pred_chroma_dc_quadrants():
    top = [10] * 4 + [200] * 4
    left = [60] * 8
    out = h._pred_chroma(0, top, left, 40)
    assert out[0][0] == (10 * 4 + 60 * 4 + 4) >> 3   # both
    assert out[0][7] == (200 * 4 + 2) >> 2            # top only
    assert out[7][0] == (60 * 4 + 2) >> 2             # left only
    assert out[7][7] == (200 * 4 + 60 * 4 + 4) >> 3   # both


# ------------------------------------------------------------- CAVLC

#: synthetic fixed-length codebooks (prefix-free by construction):
#: coeff_token 7-bit code = (tc << 2) | t1s for tc 0..16 capped at
#: t1s<=min(3,tc); total_zeros 5-bit identity; run_before 4-bit
#: identity; cbp_intra identity bijection. Spec data stays out of the
#: repo; the machinery (levels, zero runs, nC contexts, me(v) cbp)
#: is fully exercised.
def _synthetic_cavlc():
    ct = [[7, (tc << 2) | t1, tc, t1]
          for tc in range(17) for t1 in range(min(3, tc) + 1)]
    tz = {str(tc): [[5, z, z] for z in range(16 - tc + 1)]
          for tc in range(1, 16)}
    tz.update({f"cdc{tc}": [[5, z, z] for z in range(4 - tc + 1)]
               for tc in range(1, 4)})
    rb = {str(z): [[4, run, run] for run in range(15)]
          for z in range(1, 8)}
    return {"coeff_token": {"0": ct, "2": ct, "4": ct, "cdc": ct},
            "total_zeros": tz, "run_before": rb,
            "cbp_intra": [[i, i] for i in range(48)]}


def test_cavlc_loader_validates():
    with pytest.raises(ValueError, match="prefix-free"):
        h.load_cavlc_tables({"coeff_token": {"0": [
            [1, 0, 1, 0], [2, 0, 2, 0]]}})
    with pytest.raises(ValueError, match="class"):
        h.load_cavlc_tables({"coeff_token": {"9": []}})
    with pytest.raises(ValueError, match="bad entry"):
        h.load_cavlc_tables({"run_before": {"1": [[4, 16, 0]]}})


def test_cavlc_block_roundtrip_via_synthetic_tables():
    """Hand-pack a residual block with the synthetic codebooks and
    decode: coeff_token -> trailing-one signs -> level prefix/suffix
    -> total_zeros -> run_before, reconstructed in scan order."""
    h.load_cavlc_tables(_synthetic_cavlc())
    w = h._W()
    # totalCoeff=3, trailingOnes=2: CAVLC emits levels HIGHEST scan
    # position first — the +1 trailing one lands at pos tc-1+tz = 3,
    # run_before=1 puts the -1 at pos 1, run_before=0 puts the real
    # level (3) at pos 0 -> scan array [3, -1, 0, 1]
    w.u((3 << 2) | 2, 7)       # coeff_token tc=3 t1s=2
    w.u(0, 1)                  # first trailing one: positive
    w.u(1, 1)                  # second trailing one: negative
    # real level 3: suffixLength=0, t1s<3 -> levelCode -= 2 on encode;
    # level 3 -> levelCode 4 -> written prefix = 4-2 = 2 -> '001'
    w.u(0b001, 3)
    w.u(1, 5)                  # total_zeros = 1
    w.u(1, 4)                  # run_before = 1 after the highest coeff
    w.u(0, 4)                  # run_before = 0
    data = w.trailing()
    got = h._cavlc_block(h._R(data), 0, 16)
    assert got == [3, -1, 0, 1] + [0] * 12, got


def test_cavlc_flc_branch_is_table_free():
    # nC >= 8 uses the 6-bit fixed-length branch: no tables needed
    w = h._W()
    w.u(0b000011, 6)  # escape: totalCoeff 0
    data = w.trailing()
    assert h._cavlc_block(h._R(data), 8, 16) == [0] * 16


def test_missing_tables_raise_namefully():
    w = h._W()
    w.u(0, 7)
    with pytest.raises(NotImplementedError, match="SPARK_GRAFT_CAVLC"):
        h._cavlc_block(h._R(w.trailing()), 0, 16)


# --------------------------------------------- intra16x16 end to end

def _intra16_stream(wm=2, hm=1, qp_delta=0):
    """Hand-build an Annex-B stream: SPS/PPS from the engine encoder's
    writers, one I slice whose MBs are Intra_16x16 DC with ZERO
    residual (cbp=0, all-zero DC block) — decode must equal the pure
    prediction, a formula-pinned expectation."""
    sps = h._W()
    sps.u(66, 8); sps.u(0, 8); sps.u(30, 8)
    sps.ue(0); sps.ue(0); sps.ue(2); sps.ue(0); sps.u(0, 1)
    sps.ue(wm - 1); sps.ue(hm - 1)
    sps.u(1, 1); sps.u(0, 1); sps.u(0, 1); sps.u(0, 1)
    out = h._nal(sps.trailing(), 3, 7)
    pps = h._W()
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 1)
    pps.ue(0); pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 2)
    pps.se(0); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)
    out += h._nal(pps.trailing(), 3, 8)
    sl = h._W()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0)
    sl.u(1, 1); sl.u(0, 1)
    sl.se(0)      # slice_qp_delta
    sl.ue(1)      # deblocking off
    for _mb in range(wm * hm):
        sl.ue(3)          # mb_type 3: m=2 -> pred DC, cbp_luma/chroma 0
        sl.ue(0)          # intra_chroma_pred_mode DC
        sl.se(qp_delta)   # mb_qp_delta
        # luma DC block with totalCoeff=0 via synthetic coeff_token
        sl.u((0 << 2) | 0, 7)
    out += h._nal(sl.trailing(), 3, 5)
    return out


def test_intra16_dc_zero_residual_decodes_to_prediction():
    h.load_cavlc_tables(_synthetic_cavlc())
    b = _intra16_stream(wm=2, hm=1)
    w, hgt, ys, cbs, crs = h.decode_iframe_yuv(b)
    assert (w, hgt) == (32, 16)
    # MB 0: no neighbors -> DC = 128 everywhere (luma + chroma)
    assert all(ys[y][x] == 128 for y in range(16) for x in range(16))
    assert all(cbs[y][x] == 128 for y in range(8) for x in range(8))
    # MB 1: left neighbor available -> DC = avg(left col) = 128
    assert all(ys[y][x] == 128 for y in range(16) for x in range(16, 32))


def test_cavlc_chroma_dc_context():
    # nC = -1 routes to the "cdc" codebook; 2x2 block (max_coeff 4)
    h.load_cavlc_tables(_synthetic_cavlc())
    w = h._W()
    w.u((1 << 2) | 1, 7)  # tc=1, t1s=1
    w.u(1, 1)             # trailing one: negative
    w.u(2, 5)             # total_zeros (cdc1 context) = 2
    got = h._cavlc_block(h._R(w.trailing()), -1, 4)
    assert got == [0, 0, -1, 0]


def _one_mb_stream(mb_bits):
    """SPS/PPS + a 1-MB I slice whose macroblock layer is written by
    ``mb_bits(sl)``."""
    sps = h._W()
    sps.u(66, 8); sps.u(0, 8); sps.u(30, 8)
    sps.ue(0); sps.ue(0); sps.ue(2); sps.ue(0); sps.u(0, 1)
    sps.ue(0); sps.ue(0)
    sps.u(1, 1); sps.u(0, 1); sps.u(0, 1); sps.u(0, 1)
    pps = h._W()
    pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 1)
    pps.ue(0); pps.ue(0); pps.ue(0); pps.u(0, 1); pps.u(0, 2)
    pps.se(0); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)
    sl = h._W()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(0, 4); sl.ue(0)
    sl.u(1, 1); sl.u(0, 1); sl.se(0); sl.ue(1)
    mb_bits(sl)
    return (h._nal(sps.trailing(), 3, 7) + h._nal(pps.trailing(), 3, 8)
            + h._nal(sl.trailing(), 3, 5))


def test_intra16_luma_dc_residual_hand_computed():
    """Nonzero luma DC level through the REAL dequant path: at qp=26
    (qdiv 4, V[2][0]=13) a DC level of 1 scales to (1*13)<<2 = 52 per
    block, the flat inverse transform adds (52+32)>>6 = 1 — so the
    whole MB decodes to DC-pred 128 + 1 = 129, hand-computed from the
    published formulas."""
    h.load_cavlc_tables(_synthetic_cavlc())

    def mb(sl):
        sl.ue(3)              # Intra_16x16, DC pred, cbp 0
        sl.ue(0)              # chroma DC pred
        sl.se(0)              # qp_delta
        sl.u((1 << 2) | 1, 7)  # luma DC: tc=1, t1s=1
        sl.u(0, 1)             # +1
        sl.u(0, 5)             # total_zeros = 0 -> level at scan pos 0

    w, hgt, ys, cbs, crs = h.decode_iframe_yuv(_one_mb_stream(mb))
    assert all(v == 129 for row in ys for v in row)
    assert all(v == 128 for row in cbs for v in row)


def test_chroma_dc_residual_end_to_end():
    """cbp_chroma=1 (DC-only): prefix 8 decodes to level 6 (the +2
    first-level adjustment), which at qPc=26 scales to
    ((6*13)<<4)>>1 = 624 (spec >>5 with the 16x weightScale folded
    out of bare-normAdjust _V) -> (624+32)>>6 = +10 after the flat
    transform; Cr all-zero stays at prediction. mb_type 7 = DC pred +
    cbp_chroma 1."""
    h.load_cavlc_tables(_synthetic_cavlc())

    def mb(sl):
        sl.ue(7)               # m=6: pred DC, cbp_chroma 1, cbp_luma 0
        sl.ue(0)               # chroma DC pred
        sl.se(0)
        sl.u((0 << 2) | 0, 7)  # luma DC: tc=0
        # Cb chroma DC block (cdc context): tc=1, t1s=0, level 5
        sl.u((1 << 2) | 0, 7)
        sl.u(1, 9)             # level_prefix 8 ('00000000' + stop '1')
        sl.u(0, 5)             # total_zeros(cdc1) = 0
        # Cr chroma DC block: tc=0
        sl.u((0 << 2) | 0, 7)

    w, hgt, ys, cbs, crs = h.decode_iframe_yuv(_one_mb_stream(mb))
    assert all(v == 128 for row in ys for v in row)
    assert all(v == 138 for row in cbs for v in row)
    assert all(v == 128 for row in crs for v in row)


# ----------------------------------------------------- Intra_4x4 (r9)

def test_intra4x4_foreign_shaped_stream_decodes():
    """A hand-built 1-MB I_4x4 picture: all 16 blocks signal
    prev_intra4x4_pred_mode_flag=1 (predicted mode = DC with no
    neighbors), cbp codeNum 0 -> cbp 0 under the identity map (no
    residual), so the whole MB must decode to flat 128."""
    h.load_cavlc_tables(_synthetic_cavlc())

    def mb(sl):
        sl.ue(0)              # mb_type 0: I_4x4
        for _ in range(16):
            sl.u(1, 1)        # prev flag: use predicted mode
        sl.ue(0)              # intra_chroma_pred_mode DC
        sl.ue(0)              # cbp codeNum 0 -> cbp 0 (identity map)

    w, hgt, ys, cbs, crs = h.decode_iframe_yuv(_one_mb_stream(mb))
    assert (w, hgt) == (16, 16)
    assert all(v == 128 for row in ys for v in row)
    assert all(v == 128 for row in cbs for v in row)


def test_intra4x4_explicit_mode_with_residual():
    """One I_4x4 MB whose first block carries an explicit mode (rem
    coding exercises the rem<pred / rem+1 branch) and a DC-only
    residual hand-computed through the dequant formulas: level 1 at
    qp=26 (V[2][0]=13, qdiv=4) -> d00 = 13<<4 = 208, flat residual
    (208+32)>>6 = 3 over the 128 DC prediction for block 0 only."""
    h.load_cavlc_tables(_synthetic_cavlc())

    def mb(sl):
        sl.ue(0)              # I_4x4
        # block 0: explicit mode: predm is DC=2; rem=1 -> mode 1? no:
        # rem < predm -> mode = rem = 1 needs a left neighbor; use
        # rem=2 -> mode = 3? mode = rem+1 = 3 needs top. With no
        # neighbors only DC decodes, so signal rem such that the mode
        # is DC: predm=2, rem=2 -> mode = rem+1 = 3 (needs top) — so
        # instead keep flag=1 for block 0 and put the explicit-rem on
        # block 3 (inside the MB, both neighbors exist, pred=min=2;
        # rem=2 -> mode 3 DDL with in-MB top available).
        sl.u(1, 1)            # blk 0: DC
        sl.u(1, 1)            # blk 1: DC
        sl.u(1, 1)            # blk 2: DC
        sl.u(0, 1)            # blk 3: explicit
        sl.u(2, 3)            # rem=2 >= pred(2) -> mode 3 (DDL)
        for _ in range(12):
            sl.u(1, 1)
        sl.ue(0)              # chroma DC
        sl.ue(1)              # cbp codeNum 1 -> cbp 1 (luma 8x8 #0)
        sl.se(0)              # mb_qp_delta
        # 4 residual blocks for 8x8 quadrant 0 (blocks 0..3), coding
        # order; block 0 has the DC level, the rest are empty
        sl.u((1 << 2) | 1, 7)  # blk 0 coeff_token: tc=1, t1s=1
        sl.u(0, 1)             # +1
        sl.u(0, 5)             # total_zeros = 0
        for _ in range(3):
            sl.u((0 << 2) | 0, 7)  # tc=0

    w, hgt, ys, cbs, crs = h.decode_iframe_yuv(_one_mb_stream(mb))
    # block 0 (top-left 4x4): 128 + 3
    assert all(ys[y][x] == 131 for y in range(4) for x in range(4))
    # block 1 (x 4..7, y 0..3): DC prediction from block 0's recon
    # left?? no: block 1's top is unavailable, left is block 0 -> DC
    # = avg(left col) = 131
    assert all(ys[y][x] == 131 for y in range(4) for x in range(4, 8))
    # block 2 at (0,4): top = block 0 recon = 131
    assert all(ys[y][x] == 131 for y in range(4, 8) for x in range(4))


def test_pred4_hand_references():
    # DDL: top+topright gradient
    got = h._pred4(3, [10, 20, 30, 40], None, None, [50, 60, 70, 80])
    assert got == [[20, 30, 40, 50], [30, 40, 50, 60],
                   [40, 50, 60, 70], [50, 60, 70, 78]]
    # DDR: diagonals constant along x-y
    got = h._pred4(4, [10, 20, 30, 40], [50, 60, 70, 80], 90, None)
    assert got == [[60, 33, 20, 30], [63, 60, 33, 20],
                   [60, 63, 60, 33], [70, 60, 63, 60]]
    # HU with the z==5 / z>5 tail
    got = h._pred4(8, None, [10, 20, 30, 40], None, None)
    assert got == [[15, 20, 25, 30], [25, 30, 35, 38],
                   [35, 38, 40, 40], [40, 40, 40, 40]]
    # vertical replicates top; horizontal replicates left
    assert h._pred4(0, [1, 2, 3, 4], None, None, None) == [[1, 2, 3, 4]] * 4
    assert h._pred4(1, None, [9, 8, 7, 6], None, None) == [
        [9] * 4, [8] * 4, [7] * 4, [6] * 4]
    # DDL without topright substitutes top[3]
    got = h._pred4(3, [10, 20, 30, 40], None, None, None)
    assert got[0][3] == (40 + 2 * 40 + 40 + 2) >> 2 == 40
    # mode needing absent neighbors raises
    with pytest.raises(ValueError, match="top"):
        h._pred4(0, None, [1, 2, 3, 4], None, None)


def test_cbp_intra_seam_raises_namefully():
    # I_4x4 without the cbp_intra map -> named seam error
    def mb(sl):
        sl.ue(0)
        for _ in range(16):
            sl.u(1, 1)
        sl.ue(0)
        sl.ue(0)

    with pytest.raises(NotImplementedError, match="SPARK_GRAFT_CAVLC"):
        h.decode_iframe_yuv(_one_mb_stream(mb))


# ------------------------------------------- quantized encoder (r9)

def test_transform_gain_identity():
    """The quantizer's scaling rests on the EXACT identity
    itrans4(ftrans4(X) ∘ u_i u_j) == 64 X with u = [2, 8/5, 2, 8/5].
    X scaled by 50 makes every product integral and even, so the
    REAL integer _itrans4/_ftrans4 pair verifies it bit-exactly."""
    rnd = random.Random(11)
    for _ in range(30):
        x0 = [[rnd.randrange(-255, 256) for _ in range(4)]
              for _ in range(4)]
        x = [[50 * v for v in row] for row in x0]
        wblk = h._ftrans4(x)
        d = [[0] * 4 for _ in range(4)]
        for i in range(4):
            for j in range(4):
                (n1, d1), (n2, d2) = h._UGAIN[i], h._UGAIN[j]
                num = wblk[i][j] * n1 * n2
                assert num % (d1 * d2) == 0
                d[i][j] = num // (d1 * d2)
        out = h._itrans4(d)
        assert all(out[i][j] == 64 * x[i][j]
                   for i in range(4) for j in range(4))


def test_cavlc_encode_decode_property():
    """_cavlc_write_block is the exact inverse of _cavlc_block over
    random sparse blocks in every nC context (synthetic codebooks),
    plus the table-free nC>=8 branch with the seam EMPTY for dense
    blocks."""
    h.load_cavlc_tables(_synthetic_cavlc())
    rnd = random.Random(4)
    for trial in range(300):
        max_coeff = rnd.choice([4, 15, 16])
        # the cdc contexts only exist for the 2x2 chroma DC block
        nc = rnd.choice([0, 1, 2, 3, 4, 7, 8, 16]) \
            if max_coeff != 4 else -1
        n_nz = rnd.randrange(0, max_coeff + 1)
        coeffs = [0] * max_coeff
        for pos in rnd.sample(range(max_coeff), n_nz):
            coeffs[pos] = rnd.choice(
                [1, -1, 1, -1, 2, -2, 3, 5, -7, 40, -300])
        w = h._W()
        h._cavlc_write_block(w, coeffs, nc, max_coeff)
        w.u(1, 1)  # stop bit padding
        got = h._cavlc_block(h._R(w.trailing()), nc, max_coeff)
        assert got == coeffs, (trial, nc, max_coeff, coeffs, got)


def test_cavlc_flc_dense_is_table_free():
    # dense block, nC >= 8: encodes and decodes with the seam EMPTY
    rnd = random.Random(9)
    coeffs = [rnd.choice([1, -1, 2, -2, 5, -9]) for _ in range(16)]
    w = h._W()
    h._cavlc_write_block(w, coeffs, 8, 16)
    assert h._cavlc_block(h._R(w.trailing()), 8, 16) == coeffs


def _grad_image(w, hgt, seed=3):
    rnd = random.Random(seed)
    ys = [[min(255, max(0, 128 + 40 * ((x // 8 + y // 8) % 3 - 1)
                        + rnd.randrange(-10, 11)))
           for x in range(w)] for y in range(hgt)]
    cbs = [[110 + (x * 4 + y) % 30 for x in range(w // 2)]
           for y in range(hgt // 2)]
    crs = [[140 + (x + y * 3) % 25 for x in range(w // 2)]
           for y in range(hgt // 2)]
    return ys, cbs, crs


def test_quantized_dense_roundtrip_seam_empty():
    """The r9 table-free quantized operating point: first MB I_PCM,
    the rest Intra_16x16 with dense CAVLC luma residuals — decodes
    with the CAVLC seam EMPTY, bit-exact against the encoder's own
    reconstruction, and within a qp-scaled error of the source. This
    is what makes the dequant V matrix / luma-DC path self-checking
    (the quantizer derives its step independently via _UGAIN)."""
    ys, cbs, crs = _grad_image(48, 32)
    for qp in (6, 10, 16):
        b, (ry, rcb, rcr) = h.encode_quantized_yuv(
            ys, cbs, crs, qp=qp, dense=True)
        w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)
        assert (w, hgt) == (48, 32)
        assert gy == ry and gcb == rcb and gcr == rcr
        err = sum(abs(gy[y][x] - ys[y][x])
                  for y in range(32) for x in range(48)) / (48 * 32)
        assert err < 0.3 + 0.45 * qp, (qp, err)


def test_quantized_sparse_i16_and_i4_roundtrip():
    """Sparse residuals (synthetic codebooks) through BOTH macroblock
    modes, chroma DC+AC included: decode == encoder recon bit-exact,
    and chroma tracks the source (the step/error bound is the
    one-sided-scaling tripwire — a 16x-attenuated chroma DC would
    blow it)."""
    h.load_cavlc_tables(_synthetic_cavlc())
    ys, cbs, crs = _grad_image(48, 32)
    for mode in ("i16", "i4"):
        b, (ry, rcb, rcr) = h.encode_quantized_yuv(
            ys, cbs, crs, qp=8, mb_mode=mode, dense=False)
        w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)
        assert gy == ry and gcb == rcb and gcr == rcr
        errl = sum(abs(gy[y][x] - ys[y][x])
                   for y in range(32) for x in range(48)) / (48 * 32)
        errc = sum(abs(gcb[y][x] - cbs[y][x])
                   for y in range(16) for x in range(24)) / (16 * 24)
        assert errl < 0.5, (mode, errl)
        assert errc < 0.5, (mode, errc)


def test_quantized_chroma_step_response():
    """Chroma step source: prediction alone cannot follow the step, so
    the coded chroma residual must. Catches any one-sided chroma-DC
    dequant scaling bug (e.g. the r8 16x >>5-vs->>1) that a pure
    round-trip consistency check would miss."""
    h.load_cavlc_tables(_synthetic_cavlc())
    ys = [[128] * 32 for _ in range(32)]
    cbs = [[128 + (20 if x >= 8 else 0) for x in range(16)]
           for y in range(16)]
    crs = [[128] * 16 for _ in range(16)]
    b, (ry, rcb, rcr) = h.encode_quantized_yuv(ys, cbs, crs, qp=8,
                                               dense=False)
    w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)
    assert gcb == rcb
    for y in range(16):
        for x in range(8, 16):
            assert abs(gcb[y][x] - 148) <= 3, (x, y, gcb[y][x])


def test_quantized_i4_dense_needs_only_cbp_map():
    h.load_cavlc_tables({"cbp_intra": [[i, i] for i in range(48)]})
    ys, cbs, crs = _grad_image(48, 32, seed=8)
    b, (ry, rcb, rcr) = h.encode_quantized_yuv(
        ys, cbs, crs, qp=12, mb_mode="i4", dense=True)
    w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)
    assert gy == ry and gcb == rcb and gcr == rcr


def test_quantized_roundtrip_property():
    """Property: ANY even-dimension source round-trips bit-exact
    against the encoder recon in dense mode with the seam empty."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=10, deadline=None)
    @given(st.data())
    def run(data):
        rnd = data.draw(st.randoms(use_true_random=False))
        w = 16 * data.draw(st.integers(1, 3))
        hgt = 16 * data.draw(st.integers(1, 2))
        qp = data.draw(st.integers(4, 30))
        ys = [[rnd.randrange(256) for _ in range(w)] for _ in range(hgt)]
        cbs = [[rnd.randrange(256) for _ in range(w // 2)]
               for _ in range(hgt // 2)]
        crs = [[rnd.randrange(256) for _ in range(w // 2)]
               for _ in range(hgt // 2)]
        b, (ry, rcb, rcr) = h.encode_quantized_yuv(ys, cbs, crs, qp=qp,
                                                   dense=True)
        gw, gh, gy, gcb, gcr = h.decode_iframe_yuv(b)
        assert (gw, gh) == (w, hgt)
        assert gy == ry and gcb == rcb and gcr == rcr

    run()


def test_temporal_mv_scale_spec_values():
    """Temporal direct MV scaling (8.4.1.2.3) pinned against
    hand-computed spec arithmetic, independent of the decoder: tb/td
    clipping, truncating division in tx, DistScaleFactor clipping,
    and the mvL1 = mvL0 - mvCol identity."""
    # cur=2, poc0=0, poc1=8: tb=2, td=8, tx=(16384+4)//8=2048,
    # dsf=(2*2048+32)>>6=64; mvL0=(64*16+128)>>8=4, mvL1=4-16=-12
    assert h._temporal_mv_scale(2, 0, 8, (16, 0)) == ((4, 0), (-12, 0))
    # cur=6, poc0=0, poc1=8: tb=6, dsf=(6*2048+32)>>6=192;
    # mvL0=(192*16+128)>>8=12+... (3072+128)>>8=12, mvL1=-4
    assert h._temporal_mv_scale(6, 0, 8, (16, 0)) == ((12, 0), (-4, 0))
    # negative colocated MV: (192*-16+128)>>8 = (-3072+128)>>8 =
    # -2944>>8 = -12 (arithmetic shift floors)
    assert h._temporal_mv_scale(6, 0, 8, (-16, -8)) == (
        (-12, -6), (4, 2))
    # equal anchor POCs: pass-through, list-1 zero
    assert h._temporal_mv_scale(5, 3, 3, (7, -9)) == ((7, -9), (0, 0))
    # td clipping at 127 and tb at -128: cur far BEFORE poc0
    mv0, mv1 = h._temporal_mv_scale(-300, 0, 400, (16, 0))
    tx = (16384 + 63) // 127
    dsf = max(-1024, min(1023, (-128 * tx + 32) >> 6))
    assert mv0 == ((dsf * 16 + 128) >> 8, 0)
    assert mv1 == (mv0[0] - 16, 0)


def test_implicit_weights_spec_values():
    """Implicit bi-prediction weights (8.4.2.3.1) pinned by hand:
    w1 = DistScaleFactor >> 2, w0 = 64 - w1, with the 32/32 fallback
    when the anchors share a POC or w1 leaves [-64, 128]."""
    assert h._implicit_weights(2, 0, 4) == (32, 32)   # midpoint
    assert h._implicit_weights(2, 0, 8) == (48, 16)   # dsf 64
    assert h._implicit_weights(6, 0, 8) == (16, 48)   # dsf 192
    assert h._implicit_weights(3, 3, 9) == (64, 0)    # tb 0 -> dsf 0
    assert h._implicit_weights(9, 4, 4) == (32, 32)   # equal POC
    # extreme extrapolation: cur far past poc1 -> w1 > 128 -> fallback
    assert h._implicit_weights(100, 0, 4) == (32, 32)


def test_b_temporal_direct_and_implicit_round_trips():
    """Engine round trips for the two r11 B modes: temporal-direct
    macroblocks (intra colocated -> zero-MV bi prediction) and
    implicit weighted bi-prediction (wbipred_idc=2 parsed from the
    PPS, POC-distance weights replayed), separately and combined —
    decode is bit-exact against the encoder recons."""
    _cbp_inter_identity()
    frames = _grad_clip(3)
    for kw in ({"direct_mbs": True},
               {"implicit": True, "poc_p": 8},
               {"direct_mbs": True, "implicit": True, "poc_p": 8}):
        b, recons = h.encode_video_b_yuv(frames, qp=8, **kw)
        w, hgt, out = h.decode_video_yuv(b)
        assert out == recons, kw
    # asymmetric implicit weights demonstrably differ from the
    # default average, and the PPS really declares idc=2
    b, recons = h.encode_video_b_yuv(frames, qp=8, implicit=True,
                                     poc_p=8)
    b0, recons0 = h.encode_video_b_yuv(frames, qp=8, poc_p=8)
    assert recons0[2] != recons[2]
    for ref, typ, rbsp in h.nal_units(b):
        if typ == 8:
            assert h.parse_pps(rbsp)["weighted_bipred"] == 2


def test_cabac_pps_parses_and_decode_refuses_namefully():
    """entropy_coding_mode_flag = 1 parses; decoding a stream whose
    PPS sets it (SPS + that PPS + one I_PCM IDR slice) raises the
    named CABAC refusal rather than misreading the slice data."""
    pps = h._W()
    pps.ue(0); pps.ue(0); pps.u(1, 1)   # entropy_coding_mode = CABAC
    pps.u(0, 1)                         # bottom_field
    pps.ue(0)                           # slice groups
    pps.ue(0); pps.ue(0)                # num_ref l0/l1
    pps.u(0, 1); pps.u(0, 2)            # weighted pred/bipred
    pps.se(0); pps.se(0); pps.se(0)     # init_qp/qs/chroma off
    pps.u(0, 1); pps.u(0, 1); pps.u(0, 1)
    parsed = h.parse_pps(pps.trailing())
    assert parsed["entropy"] == 1
    ys = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    cs = [[128] * 8 for _ in range(8)]
    cavlc = h.encode_ipcm_yuv(ys, cs, cs)
    assert h.decode_iframe_yuv(cavlc)[2] == ys
    stream = b"".join(
        h._nal(pps.trailing(), ref, typ) if typ == 8
        else h._nal(rbsp, ref, typ)
        for ref, typ, rbsp in h.nal_units(cavlc))
    for decode in (h.decode_iframe_yuv, h.decode_video_yuv):
        with pytest.raises(NotImplementedError, match="CABAC"):
            decode(stream)


# ------------------------------------------------- multi-slice (r9)

def test_multislice_dense_roundtrip_seam_empty():
    """Multi-slice pictures decode (real crawled I-frames are often
    multi-slice). Slice independence both ways: prediction and nC
    contexts never cross a slice boundary, each slice's first MB is
    I_PCM, and dense mode stays table-free — recon bit-exact with the
    seam EMPTY for every slice count."""
    ys, cbs, crs = _grad_image(48, 48, seed=4)
    ref = None
    for ns in (1, 2, 3, 5):
        b, (ry, rcb, rcr) = h.encode_quantized_yuv(
            ys, cbs, crs, qp=10, slices=ns)
        n_slices = sum(1 for _r, t, _x in h.nal_units(b) if t == 5)
        assert n_slices == min(ns, 3)  # row-aligned: 3 MB rows max
        w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)
        assert gy == ry and gcb == rcb and gcr == rcr, ns
        if ref is None:
            ref = ys
        # every variant still tracks the source at the same qp
        err = sum(abs(gy[y][x] - ys[y][x])
                  for y in range(48) for x in range(48)) / (48 * 48)
        assert err < 5.0, (ns, err)


def test_multislice_sparse_i16_and_i4():
    h.load_cavlc_tables(_synthetic_cavlc())
    ys, cbs, crs = _grad_image(48, 48, seed=9)
    for mode in ("i16", "i4"):
        b, (ry, rcb, rcr) = h.encode_quantized_yuv(
            ys, cbs, crs, qp=10, mb_mode=mode, dense=False, slices=3)
        w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)
        assert gy == ry and gcb == rcb and gcr == rcr, mode


def test_multislice_out_of_order_raises():
    ys, cbs, crs = _grad_image(32, 32, seed=2)
    b = h.encode_quantized_yuv(ys, cbs, crs, qp=10, slices=2)[0]
    units = h.nal_units(b)
    sl_units = [(r, t, p) for r, t, p in units if t == 5]
    assert len(sl_units) == 2
    head = b"".join(h._nal(p, r, t) for r, t, p in units if t in (7, 8))
    swapped = head + h._nal(sl_units[1][2], 3, 5) + h._nal(
        sl_units[0][2], 3, 5)
    with pytest.raises(NotImplementedError, match="out-of-order"):
        h.decode_iframe_yuv(swapped)


def test_multislice_missing_slice_raises():
    ys, cbs, crs = _grad_image(32, 32, seed=2)
    b = h.encode_quantized_yuv(ys, cbs, crs, qp=10, slices=2)[0]
    units = h.nal_units(b)
    keep = [u for u in units if u[1] != 5]
    first_slice = next(u for u in units if u[1] == 5)
    partial = b"".join(h._nal(p, r, t) for r, t, p in keep) + h._nal(
        first_slice[2], 3, 5)
    with pytest.raises(ValueError, match="not fully covered"):
        h.decode_iframe_yuv(partial)


# ---------------------------------------------------------- deblocking

def _synthetic_tc0():
    """Any non-negative values round-trip (the encoder replays the
    decoder); these are deterministic and loosely QP-monotone."""
    return [[max(0, i // 5 + bs - 2) for i in range(52)]
            for bs in (1, 2, 3)]


def test_deblock_alpha_beta_defaults():
    """The published List et al. (2003) closed forms: zero below the
    activation index 16, alpha(16) = 4, capped at 255, beta = x/2 - 7
    capped at 18; both non-decreasing."""
    assert h._deblock_alpha(0) == 0 and h._deblock_beta(15) == 0
    assert h._deblock_alpha(16) == 4
    assert h._deblock_beta(16) == 1 and h._deblock_beta(51) == 18
    assert h._deblock_alpha(51) == 255
    for f in (h._deblock_alpha, h._deblock_beta):
        vals = [f(i) for i in range(52)]
        assert all(vals[i] <= vals[i + 1] for i in range(51))


def test_deblock_edge_strong_hand_computed():
    """bS = 4 luma, both branches of the |p0-q0| < (a>>2)+2 gate,
    hand-computed through the 8.7.2.4 strong-filter equations."""
    src = [60, 62, 64, 66, 80, 78, 76, 74]
    # alpha = 40: (40>>2)+2 = 12 <= |p0-q0| = 14 -> 3-tap fallback
    px = list(src)
    h._deblock_edge(px, 4, 1, 1, 0, 4, 40, 10, 0, True)
    assert px == [60, 62, 64, 68, 75, 78, 76, 74]
    # alpha = 80: full strong filter on both sides (ap = aq = 4 < 10)
    px = list(src)
    h._deblock_edge(px, 4, 1, 1, 0, 4, 80, 10, 0, True)
    assert px == [60, 65, 68, 70, 74, 75, 75, 74]
    # chroma bS = 4 is the 3-tap filter only
    px = list(src)
    h._deblock_edge(px, 4, 1, 1, 0, 4, 80, 10, 0, False)
    assert px == [60, 62, 64, 68, 75, 78, 76, 74]


def test_deblock_edge_normal_hand_computed():
    """bS < 4 with tC0 = 2, hand-computed: luma delta 5 clips to
    tc = 2+1+1 = 4, p1/q1 nudged within +/- tC0; chroma clips to
    tC0 + 1 and never touches p1/q1."""
    src = [60, 62, 64, 66, 80, 78, 76, 74]
    px = list(src)
    h._deblock_edge(px, 4, 1, 1, 0, 3, 40, 10, 2, True)
    assert px == [60, 62, 66, 70, 76, 76, 76, 74]
    px = list(src)
    h._deblock_edge(px, 4, 1, 1, 0, 3, 40, 10, 2, False)
    assert px == [60, 62, 64, 69, 77, 78, 76, 74]


def test_deblock_loader_validates():
    with pytest.raises(ValueError, match="deblock_tc0"):
        h.load_cavlc_tables({"deblock_tc0": [[0] * 52, [0] * 52]})
    with pytest.raises(ValueError, match="alpha"):
        h.load_cavlc_tables(
            {"deblock_alpha_beta": {"alpha": [5, 4] + [4] * 50,
                                    "beta": [0] * 52}})
    assert h.load_cavlc_tables({"deblock_tc0": _synthetic_tc0()}) == 1


def test_quantized_deblock_roundtrip_and_auto():
    """encode(deblock=True) -> decode is bit-exact against the
    encoder's deblocked recon (auto mode picks the filter up once the
    tC0 seam is loaded), and the filter demonstrably changed the
    picture vs the pre-deblock output."""
    h.load_cavlc_tables({"deblock_tc0": _synthetic_tc0()})
    ys, cbs, crs = _grad_image(48, 32, seed=5)
    b, (ry, rcb, rcr) = h.encode_quantized_yuv(
        ys, cbs, crs, qp=30, dense=True, deblock=True)
    w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b)          # auto
    assert gy == ry and gcb == rcb and gcr == rcr
    w, hgt, py, pcb, pcr = h.decode_iframe_yuv(b, deblock=False)
    assert py != gy


def test_quantized_deblock_multislice_roundtrip():
    """idc = 0 filters ACROSS slice boundaries; both sides replay."""
    h.load_cavlc_tables({"deblock_tc0": _synthetic_tc0()})
    ys, cbs, crs = _grad_image(32, 48, seed=9)
    b, (ry, rcb, rcr) = h.encode_quantized_yuv(
        ys, cbs, crs, qp=28, dense=True, slices=3, deblock=True)
    w, hgt, gy, gcb, gcr = h.decode_iframe_yuv(b, deblock=True)
    assert gy == ry and gcb == rcb and gcr == rcr


def test_deblock_seam_missing_raises_and_auto_falls_back():
    # the encoder's replay needs the seam too, so encode with it ...
    h.load_cavlc_tables({"deblock_tc0": _synthetic_tc0()})
    ys, cbs, crs = _grad_image(48, 32, seed=5)
    b, _ = h.encode_quantized_yuv(ys, cbs, crs, qp=30, dense=True,
                                  deblock=True)
    # ... then probe DECODE behavior with the seam empty
    h.CAVLC["deblock"].clear()
    # auto: signaled but seam empty -> pre-deblock, no raise
    auto = h.decode_iframe_yuv(b)
    assert auto == h.decode_iframe_yuv(b, deblock=False)
    with pytest.raises(NotImplementedError, match="deblock_tc0"):
        h.decode_iframe_yuv(b, deblock=True)


def test_deblock_alpha_beta_override_and_lazy_tc0():
    """An injected all-zero alpha table turns filtering into a no-op
    WITHOUT tC0 ever being needed (it is fetched lazily, only for a
    bS < 4 edge that passes the alpha/beta gate)."""
    h.load_cavlc_tables({"deblock_tc0": _synthetic_tc0()})
    ys, cbs, crs = _grad_image(48, 32, seed=5)
    b, _ = h.encode_quantized_yuv(ys, cbs, crs, qp=30, dense=True,
                                  deblock=True)
    h.CAVLC["deblock"].clear()
    h.load_cavlc_tables({"deblock_alpha_beta": {"alpha": [0] * 52,
                                                "beta": [0] * 52}})
    assert (h.decode_iframe_yuv(b, deblock=True)
            == h.decode_iframe_yuv(b, deblock=False))


def test_deblock_off_streams_identical_under_all_modes():
    """Engine default operating points signal idc = 1: all three
    deblock arguments decode byte-identically (hash stability)."""
    h.load_cavlc_tables({"deblock_tc0": _synthetic_tc0()})
    ys, cbs, crs = _grad_image(32, 32, seed=4)
    for enc in (lambda: h.encode_ipcm_yuv(ys, cbs, crs),
                lambda: h.encode_quantized_yuv(ys, cbs, crs, qp=30)[0]):
        b = enc()
        ref = h.decode_iframe_yuv(b, deblock=False)
        assert h.decode_iframe_yuv(b) == ref
        assert h.decode_iframe_yuv(b, deblock=True) == ref


def test_deblock_ipcm_neighbor_counts_as_qp0():
    """Edges touching an I_PCM macroblock average against qP = 0 per
    8.7.2 — at engine QP 30, (0+30+1)>>1 = 15 is below the activation
    index, so columns adjacent to the bootstrap I_PCM MB must be
    UNFILTERED while interior-edge columns do change."""
    h.load_cavlc_tables({"deblock_tc0": _synthetic_tc0()})
    ys, cbs, crs = _grad_image(48, 16, seed=7)
    b, (ry, _, _) = h.encode_quantized_yuv(ys, cbs, crs, qp=30,
                                           dense=True, deblock=True)
    w, hgt, py, _, _ = h.decode_iframe_yuv(b, deblock=False)
    # MB 0 is I_PCM: the vertical MB edge at x = 16 (qav 15) is off
    assert all(py[y][15] == ry[y][15] and py[y][16] == ry[y][16]
               for y in range(16))
    # some interior (bS = 3, qav 30) column did filter
    assert any(py[y][x] != ry[y][x]
               for y in range(16) for x in range(20, 44))


# -------------------------------------------------- P slices (r9)

def _cbp_inter_identity():
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})


def _grad_clip(n_frames, w=48, hgt=32, step=9):
    cb = [[118 + (x % 9) for x in range(w // 2)]
          for _y in range(hgt // 2)]
    cr = [[132 + (_y % 7) for _x in range(w // 2)]
          for _y in range(hgt // 2)]
    return [([[(x * 5 + y * 3 + f * step) % 256 for x in range(w)]
              for y in range(hgt)], cb, cr) for f in range(n_frames)]


def test_video_zero_mv_roundtrip():
    """IDR + frame-differencing P pictures: decode is bit-exact
    against the encoder replay, the IDR recon IS the source (I_PCM),
    and the P recon tracks its source within quantization error."""
    _cbp_inter_identity()
    frames = _grad_clip(3)
    b, recons = h.encode_video_yuv(frames, qp=8)
    w, hgt, out = h.decode_video_yuv(b)
    assert (w, hgt) == (48, 32) and len(out) == 3
    assert out == recons
    assert recons[0][0] == frames[0][0]
    for fi in (1, 2):
        err = sum(abs(recons[fi][0][y][x] - frames[fi][0][y][x])
                  for y in range(32) for x in range(48)) / (32 * 48)
        assert err < 0.6, (fi, err)


def test_video_every_quarter_pel_phase_roundtrip():
    """All 16 fractional MV phases (and negative MVs) drive the 6-tap
    half-pel + quarter-average interpolator; encode->decode stays
    bit-exact because the encoder replays the decoder's MC."""
    _cbp_inter_identity()
    for mv in [(1, 0), (2, 0), (3, 0), (0, 1), (0, 2), (0, 3),
               (1, 1), (2, 2), (3, 3), (1, 2), (2, 1), (3, 2),
               (2, 3), (1, 3), (3, 1), (-5, 7)]:
        frames = _grad_clip(2)
        b, recons = h.encode_video_yuv(frames, qp=8, mvs=[mv])
        w, hgt, out = h.decode_video_yuv(b)
        assert out == recons, mv


def test_video_motion_alignment():
    """A true integer-pel pan with the MATCHING motion vector leaves
    only the dense +/-1 floor to code, so the bitstream is MUCH
    smaller than with mv = 0 or a sign-flipped vector — this catches
    MV sign/application errors that pure round-trip consistency
    cannot (residual coding reproduces the source either way)."""
    _cbp_inter_identity()
    rnd = random.Random(11)
    w, hgt = 48, 32
    base = [[rnd.randrange(256) for _x in range(w + 8)]
            for _y in range(hgt)]
    cb = [[128] * (w // 2) for _ in range(hgt // 2)]
    f0 = [row[4: 4 + w] for row in base]
    f1 = [row[0: w] for row in base]      # content moved RIGHT 4 px
    frames = [(f0, cb, cb), (f1, cb, cb)]
    b_good, rec_good = h.encode_video_yuv(frames, qp=8,
                                          mvs=[(-16, 0)])
    b_zero, _ = h.encode_video_yuv(frames, qp=8, mvs=[(0, 0)])
    b_bad, _ = h.encode_video_yuv(frames, qp=8, mvs=[(16, 0)])
    assert len(b_good) < 0.75 * len(b_zero), (len(b_good),
                                              len(b_zero))
    assert len(b_good) < 0.75 * len(b_bad)
    # and the aligned P recon still tracks its source within the
    # dense quantization floor
    err = sum(abs(rec_good[1][0][y][x] - f1[y][x])
              for y in range(hgt) for x in range(w)) / (w * hgt)
    assert err < 1.0, err
    w2, h2, out = h.decode_video_yuv(b_good)
    assert out == rec_good


def test_video_skip_static_clip_seam_empty():
    """IDR + all-skip P pictures: the table-free multi-frame
    operating point (P slice header + skip-run + MC copy) with the
    seam completely EMPTY."""
    px = [[((x * 7 + y * 3) % 256, (x + y * 5) % 256, (x * y) % 256)
           for x in range(20)] for y in range(12)]
    clip = h.encode_video_skip(px, 4)
    w, hgt, frames = h.decode_video(clip)
    assert (w, hgt) == (20, 12) and len(frames) == 4
    assert frames[0] == frames[1] == frames[2] == frames[3]
    ref = h.decode_iframe(h.encode_ipcm(px))[2]
    assert frames[0] == ref


def test_video_deblocked_p_roundtrip():
    """deblock=True on an IPPP clip: the FILTERED picture is the
    reference on both sides (inter bS derivation: coefficients -> 2,
    MV delta >= 4 quarters -> 1), and decode stays bit-exact against
    the encoder replay."""
    _cbp_inter_identity()
    h.load_cavlc_tables(
        {"deblock_tc0": [[max(0, i // 5 + bs - 2) for i in range(52)]
                         for bs in (1, 2, 3)]})
    frames = _grad_clip(3)
    b, recons = h.encode_video_yuv(frames, qp=30, mvs=[(1, 1), (0, 2)],
                                   deblock=True)
    w, hgt, out = h.decode_video_yuv(b, deblock=True)
    assert out == recons
    w, hgt, pre = h.decode_video_yuv(b, deblock=False)
    assert pre != recons  # the filter did change the pictures


def test_video_max_frames_and_iframe_wrapper():
    _cbp_inter_identity()
    frames = _grad_clip(4)
    b, recons = h.encode_video_yuv(frames, qp=8)
    w, hgt, out = h.decode_video_yuv(b, max_frames=2)
    assert len(out) == 2 and out == recons[:2]
    # decode_iframe_yuv still returns exactly the first picture
    w, hgt, ys, cbs, crs = h.decode_iframe_yuv(b)
    assert (ys, cbs, crs) == recons[0]


def test_video_idr_resets_references():
    """Two concatenated GOPs: the second IDR resets the DPB and both
    GOPs decode bit-exact."""
    _cbp_inter_identity()
    b1, r1 = h.encode_video_yuv(_grad_clip(2), qp=8)
    b2, r2 = h.encode_video_yuv(_grad_clip(2, step=17), qp=8)
    w, hgt, out = h.decode_video_yuv(b1 + b2)
    assert len(out) == 4
    assert out == r1 + r2


def test_video_p_scope_errors():
    _cbp_inter_identity()
    b, _ = h.encode_video_yuv(_grad_clip(2), qp=8)
    # cbp_inter seam required for decode too
    h.CAVLC["cbp_intra"].pop("inter")
    with pytest.raises(NotImplementedError, match="load_cavlc_tables"):
        h.decode_video_yuv(b)
    _cbp_inter_identity()
    # ref-list modification is fully IMPLEMENTED (r12, incl. the
    # long-term idc 2); out-of-range idc values still reject
    units = h.nal_units(b)
    sl = h._W()
    sl.ue(0); sl.ue(5)   # first_mb, slice_type P
    sl.ue(0)             # pps id
    sl.u(1, 4)           # frame_num
    sl.u(0, 1)           # num_ref override
    sl.u(1, 1)           # ref_pic_list_modification_flag_l0 = 1
    sl.ue(4)             # modification_of_pic_nums_idc 4: invalid
    head = b"".join(h._nal(p, r_, t) for r_, t, p in units
                    if t in (7, 8, 5))
    with pytest.raises(ValueError, match="out of range"):
        h.decode_video_yuv(head + h._nal(sl.trailing(), 2, 1))


def test_interp_luma_positions_hand_checked():
    """Half-pel 6-tap and quarter-pel averaging against a by-hand
    computation on a small ramp."""
    import numpy as np

    arr = np.array([[x * 10 + y for x in range(12)]
                    for y in range(12)])
    # position b (fx=2, fy=0) at (4, 4): 6-tap over x = 2..7 row 4
    got = h._interp_luma(arr, 4, 4, 1, 1, 2, 0)[0][0]
    row = [arr[4][x] for x in range(2, 8)]
    want = (row[0] - 5 * row[1] + 20 * row[2] + 20 * row[3]
            - 5 * row[4] + row[5] + 16) >> 5
    assert got == max(0, min(255, want))
    # position a (fx=1) averages G and b
    got_a = h._interp_luma(arr, 4, 4, 1, 1, 1, 0)[0][0]
    assert got_a == (arr[4][4] + got + 1) >> 1
    # chroma eighth-pel bilinear at (fx, fy) = (3, 5)
    gotc = h._interp_chroma(arr, 2, 2, 1, 1, 3, 5)[0][0]
    a_, b_, c_, d_ = arr[2][2], arr[2][3], arr[3][2], arr[3][3]
    wantc = (5 * 3 * a_ + 3 * 3 * b_ + 5 * 5 * c_ + 3 * 5 * d_
             + 32) >> 6
    assert gotc == wantc
    # edge clamp: negative integer MV at the frame corner
    got_e = h._interp_luma(arr, 0, 0, 2, 2, -8, -8)
    assert got_e == [[arr[0][0]] * 2 for _ in range(2)]


def test_video_multi_reference_te_and_dpb_order():
    """Hand-built stream: IDR (I_PCM) + a second non-IDR I_PCM
    picture + a P picture that overrides num_ref to 2 and selects
    ref_idx 1 (te(v) single inverted bit) with zero MV and cbp 0 —
    every P macroblock copies the FIRST picture, proving te(v)
    parsing and most-recent-first DPB ordering."""
    _cbp_inter_identity()
    wm = hm = 1  # one 16x16 MB
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    f1 = [[255 - f0[y][x] for x in range(16)] for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]
    c1 = [[200] * 8 for _ in range(8)]

    def ipcm_pic(ys, cbs, crs, idr, frame_num):
        sl = h._W()
        sl.ue(0)
        sl.ue(7)        # I slice
        sl.ue(0)
        sl.u(frame_num, 4)
        if idr:
            sl.ue(0)    # idr_pic_id
        if idr:
            sl.u(1, 1)
            sl.u(0, 1)
        else:
            sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
        sl.se(0)
        sl.ue(1)        # deblocking off
        sl.ue(25)
        sl.byte_align_zero()
        for yy in range(16):
            for xx in range(16):
                sl.u(ys[yy][xx], 8)
        for plane in (cbs, crs):
            for yy in range(8):
                for xx in range(8):
                    sl.u(plane[yy][xx], 8)
        return h._nal(sl.trailing(), 3, 5 if idr else 1)

    sps_pps = h._write_sps_pps(wm, hm, 16, 16, max_ref=2)
    psl = h._W()
    psl.ue(0)
    psl.ue(5)           # P slice
    psl.ue(0)
    psl.u(2, 4)         # frame_num
    psl.u(1, 1)         # num_ref_idx_active_override_flag
    psl.ue(1)           # num_ref_idx_l0_active_minus1 = 1 -> 2 refs
    psl.u(0, 1)         # ref_pic_list_modification
    psl.u(0, 1)         # adaptive marking
    psl.se(0)
    psl.ue(1)           # deblocking off
    psl.ue(0)           # mb_skip_run
    psl.ue(0)           # mb_type P_L0_16x16
    psl.u(0, 1)         # te(v) ref_idx: bit 0 -> value 1 (older ref)
    psl.se(0)
    psl.se(0)           # mvd (0, 0)
    psl.ue(0)           # cbp codeNum 0 -> cbp 0 (identity map)
    stream = (sps_pps + ipcm_pic(f0, c0, c0, True, 0)
              + ipcm_pic(f1, c1, c1, False, 1)
              + h._nal(psl.trailing(), 2, 1))
    w, hgt, out = h.decode_video_yuv(stream)
    assert len(out) == 3
    assert out[0] == (f0, c0, c0)
    assert out[1] == (f1, c1, c1)
    assert out[2] == (f0, c0, c0)  # ref_idx 1 = two pictures back


def test_video_p8x8_all_subshapes_roundtrip():
    """mb_mode='p8x8' codes one sub_mb_type of each shape per MB
    (8x8/8x4/4x8/4x4); decode is bit-exact against the encoder replay
    at zero and fractional global MVs."""
    _cbp_inter_identity()
    for mv in [(0, 0), (3, 2), (-6, 7)]:
        frames = _grad_clip(2)
        b, recons = h.encode_video_yuv(frames, qp=8, mvs=[mv],
                                       mb_mode="p8x8")
        w, hgt, out = h.decode_video_yuv(b)
        assert out == recons, mv


def test_video_p8x8_independent_sub_mvs():
    """Hand-built P_8x8 macroblock whose four 8x8 quadrants carry
    DIFFERENT motion vectors: each quadrant must reconstruct as its
    own shifted copy of the reference (pins sub-partition syntax
    order and per-sub-partition MV prediction)."""
    _cbp_inter_identity()
    f0 = [[(x * 13 + y * 5) % 256 for x in range(16)]
          for y in range(16)]
    c0 = [[90 + x for x in range(8)] for _ in range(8)]
    sps_pps = h._write_sps_pps(1, 1, 16, 16, max_ref=1)
    idr = h._W()
    idr.ue(0); idr.ue(7); idr.ue(0)
    idr.u(0, 4); idr.ue(0); idr.u(1, 1); idr.u(0, 1)
    idr.se(0); idr.ue(1)
    idr.ue(25)
    idr.byte_align_zero()
    for yy in range(16):
        for xx in range(16):
            idr.u(f0[yy][xx], 8)
    for _pl in range(2):
        for yy in range(8):
            for xx in range(8):
                idr.u(c0[yy][xx], 8)
    # quadrant MVs (quarter-pel): distinct, mixed signs/phases
    qmvs = [(4, 0), (-4, 4), (0, -8), (2, 3)]
    psl = h._W()
    psl.ue(0); psl.ue(5); psl.ue(0)
    psl.u(1, 4)
    psl.u(0, 1); psl.u(0, 1); psl.u(0, 1)
    psl.se(0); psl.ue(1)
    psl.ue(0)        # mb_skip_run
    psl.ue(3)        # P_8x8
    for _q in range(4):
        psl.ue(0)    # sub_mb_type 8x8
    # num_ref 1 -> no ref_idx bits; mvds vs the median predictor,
    # computed with the shared predictor on a replica grid
    mv_g = [[None] * 4 for _ in range(4)]

    def getmv(bx, by):
        if bx < 0 or by < 0 or bx >= 4 or by >= 4:
            return None
        return mv_g[by][bx]

    for q, (mvx, mvy) in enumerate(qmvs):
        bx0, by0 = 2 * (q % 2), 2 * (q // 2)
        mpx, mpy = h._mv_predict(getmv, bx0, by0, 2, 0)
        psl.se(mvx - mpx)
        psl.se(mvy - mpy)
        for by in range(by0, by0 + 2):
            for bx in range(bx0, bx0 + 2):
                mv_g[by][bx] = (mvx, mvy, 0)
    psl.ue(0)        # cbp codeNum 0 -> cbp 0 (identity map)
    stream = (sps_pps + h._nal(idr.trailing(), 3, 5)
              + h._nal(psl.trailing(), 2, 1))
    w, hgt, out = h.decode_video_yuv(stream)
    assert len(out) == 2
    import numpy as np

    arr = np.array(f0)
    for q, (mvx, mvy) in enumerate(qmvs):
        px0, py0 = 8 * (q % 2), 8 * (q // 2)
        want = h._interp_luma(arr, px0, py0, 8, 8, mvx, mvy)
        got = [row[px0: px0 + 8] for row in out[1][0][py0: py0 + 8]]
        assert got == want, q


def test_video_roundtrip_property():
    """Property: ANY random frames, MVs and clip lengths round-trip
    bit-exact through the IPPP encoder replay in both macroblock
    modes."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=8, deadline=None)
    @given(st.data())
    def run(data):
        _cbp_inter_identity()
        rnd = data.draw(st.randoms(use_true_random=False))
        w = 16 * data.draw(st.integers(1, 3))
        hgt = 16 * data.draw(st.integers(1, 2))
        n = data.draw(st.integers(2, 4))
        mode = data.draw(st.sampled_from(["p16", "p8x8"]))
        qp = data.draw(st.integers(6, 30))
        frames = []
        for _ in range(n):
            ys = [[rnd.randrange(256) for _ in range(w)]
                  for _ in range(hgt)]
            cs = [[rnd.randrange(256) for _ in range(w // 2)]
                  for _ in range(hgt // 2)]
            frames.append((ys, cs, [row[:] for row in cs]))
        mvs = [(rnd.randrange(-8, 9), rnd.randrange(-8, 9))
               for _ in range(n - 1)]
        b, recons = h.encode_video_yuv(frames, qp=qp, mvs=mvs,
                                       mb_mode=mode)
        w2, h2, out = h.decode_video_yuv(b)
        assert out == recons

    run()


def test_declared_num_ref_governs_te_parsing():
    """A stream declaring num_ref_idx_l0_active = 2 while the DPB
    holds only 1 picture (encoder SPS max_num_ref_frames = 1) must
    still parse one te(v) ref_idx bit per partition — bit-width
    follows the DECLARED count, not decoder DPB fill (14496-10
    7.4.3; round-10 ADVICE fix). Both P_16x16 and P_8x8 shapes."""
    _cbp_inter_identity()
    frames = _grad_clip(3)
    for mode in ("p16", "p8x8"):
        b, recons = h.encode_video_yuv(frames, qp=8, mb_mode=mode,
                                       declare_num_ref=2)
        w, hgt, out = h.decode_video_yuv(b)
        assert out == recons, mode
        # and the declared-1 stream differs in the bit layout but
        # decodes to the same recon (te bits carry ref 0 either way)
        b1, recons1 = h.encode_video_yuv(frames, qp=8, mb_mode=mode)
        assert b1 != b
        assert recons1 == recons


def test_deblock_closed_form_alpha_beta_warns_once():
    """deblock='auto' with the tC0 seam injected but alpha/beta on
    the published closed forms warns (once) that decode is not
    exactly Table 8-16 conformant; injecting deblock_alpha_beta
    silences it (round-10 ADVICE fix)."""
    import warnings as _warnings

    h.load_cavlc_tables({"deblock_tc0": _synthetic_tc0()})
    ys, cbs, crs = _grad_image(48, 32, seed=5)
    b, _ = h.encode_quantized_yuv(ys, cbs, crs, qp=30, dense=True,
                                  deblock=True)
    closed_a = [h._deblock_alpha(i) for i in range(52)]
    closed_b = [h._deblock_beta(i) for i in range(52)]

    h._warned_closed_form_ab = False
    with pytest.warns(RuntimeWarning, match="Table 8-16"):
        h.decode_iframe_yuv(b)
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        h.decode_iframe_yuv(b)   # latched: no second warning
    assert not [w for w in rec if issubclass(w.category,
                                             RuntimeWarning)]

    h._warned_closed_form_ab = False
    h.load_cavlc_tables({"deblock_alpha_beta": {"alpha": closed_a,
                                                "beta": closed_b}})
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        h.decode_iframe_yuv(b)   # seam populated: silent
    assert not [w for w in rec if issubclass(w.category,
                                             RuntimeWarning)]


# --------------------------------------------------- B slices (r10)

def test_b_skip_clip_table_free():
    """I_PCM IDR + all-PCM P + all-B_Skip picture decodes with ZERO
    tables: the B picture spatial-directs to zero motion with ref 0
    in both lists and bi-averages I and P; since they carry the same
    content here, the B recon equals the I picture exactly."""
    px = [[((x * 7 + y * 3) % 256, x % 256, y % 256)
           for x in range(32)] for y in range(32)]
    for kw in ({}, {"direct8x8": True},
               {"temporal": True, "direct8x8": True},
               {"implicit": True, "poc_p": 8, "direct8x8": True}):
        b = h.encode_video_b_skip(px, **kw)
        w, hgt, frames = h.decode_video_yuv(b)
        assert (w, hgt) == (32, 32) and len(frames) == 3, kw
        assert frames[2] == frames[0], kw
        assert frames[1] == frames[0], kw   # the P is PCM of px


def test_b_encode_decode_bit_exact():
    """encode_video_b_yuv replays the decoder's POC-ordered list
    construction, per-list median MV prediction, MC and
    bi-prediction average: decode is bit-exact against the recons
    for zero and fractional per-list MVs."""
    _cbp_inter_identity()
    frames = _grad_clip(3)
    for mvs in (((0, 0), (0, 0)), ((5, -3), (-2, 7)),
                ((1, 1), (3, 2))):
        b, recons = h.encode_video_b_yuv(frames, qp=8, mvs=mvs)
        w, hgt, out = h.decode_video_yuv(b)
        assert out == recons, mvs
    # B_L0 references the PAST (I), B_L1 the FUTURE (P): corrupting
    # the list-1 picture must change only the L1/Bi macroblocks
    b, recons = h.encode_video_b_yuv(frames, qp=8)
    w, hgt, out = h.decode_video_yuv(b)
    assert out == recons


def test_b_explicit_weighted_prediction():
    """weighted_bipred_idc = 1 + pred_weight_table: the uni and bi
    weighted sample formulas ((s*w + 2^(lwd-1)) >> lwd) + o and
    ((s0*w0 + s1*w1 + 2^lwd) >> (lwd+1)) + avg-offset replay
    bit-exactly through encode -> decode, luma AND chroma."""
    _cbp_inter_identity()
    frames = _grad_clip(3)
    wts = {"lwd": 5, "cwd": 4, "w0": (20, 3), "w1": (44, -2),
           "c0": ((10, 1), (18, 0)), "c1": ((22, -1), (14, 2))}
    b, recons = h.encode_video_b_yuv(frames, qp=8, weights=wts)
    w, hgt, out = h.decode_video_yuv(b)
    assert out == recons
    # the weights demonstrably changed the picture vs unweighted
    b0, recons0 = h.encode_video_b_yuv(frames, qp=8)
    assert recons0[2] != recons[2]
    # and the stream really declares weighted_bipred_idc = 1
    for ref, typ, rbsp in h.nal_units(b):
        if typ == 8:
            assert h.parse_pps(rbsp)["weighted_bipred"] == 1


def test_p_explicit_weighted_prediction_hand_stream():
    """A hand-built P stream with weighted_pred = 1: a zero-residual
    P_L0_16x16 macroblock reconstructs as the weighted reference
    sample-for-sample (uni formula, luma + chroma)."""
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})
    px_y = [[(x * 5 + y * 7) % 256 for x in range(16)]
            for y in range(16)]
    cb = [[(100 + x * 3 + y) % 256 for x in range(8)]
          for y in range(8)]
    cr = [[(60 + x + y * 2) % 256 for x in range(8)]
          for y in range(8)]
    # SPS (poc type 2) + PPS with weighted_pred = 1
    sps_pps = h.nal_units(h.encode_ipcm_yuv(px_y, cb, cr))
    sps_rbsp = sps_pps[0][2]
    pps = h._W()
    pps.ue(0); pps.ue(0)
    pps.u(0, 1)     # CAVLC
    pps.u(0, 1)
    pps.ue(0)
    pps.ue(0); pps.ue(0)
    pps.u(1, 1)     # weighted_pred = 1
    pps.u(0, 2)
    pps.se(0); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)
    idr = sps_pps[2][2]      # the I_PCM slice rbsp
    lwd, wv, ov = 3, 13, 7
    cwd, cwv, cov = 2, 5, -9
    sl = h._W()
    sl.ue(0)
    sl.ue(5)        # P
    sl.ue(0)
    sl.u(1, 4)      # frame_num
    sl.u(0, 1)      # override
    sl.u(0, 1)      # ref mod
    sl.ue(lwd)      # pred_weight_table
    sl.ue(cwd)
    sl.u(1, 1)      # luma_weight_l0_flag
    sl.se(wv)
    sl.se(ov)
    sl.u(1, 1)      # chroma_weight_l0_flag
    sl.se(cwv); sl.se(cov)
    sl.se(cwv); sl.se(cov)
    sl.u(0, 1)      # adaptive marking
    sl.se(0)        # qp delta
    sl.ue(1)        # deblock off
    sl.ue(0)        # skip run
    sl.ue(0)        # P_L0_16x16
    sl.se(0); sl.se(0)        # mvd 0 (predictor 0: no neighbors)
    sl.ue(0)        # cbp 0 (identity map)
    stream = (h._nal(sps_rbsp, 3, 7) + h._nal(pps.trailing(), 3, 8)
              + h._nal(idr, 3, 5) + h._nal(sl.trailing(), 2, 1))
    w, hgt, frames = h.decode_video_yuv(stream)
    assert len(frames) == 2
    iy, icb, icr = frames[0]
    py, pcb, pcr = frames[1]
    rnd = 1 << (lwd - 1)
    for y in range(16):
        for x in range(16):
            exp = min(255, max(0, ((iy[y][x] * wv + rnd) >> lwd) + ov))
            assert py[y][x] == exp, (x, y)
    crnd = 1 << (cwd - 1)
    for y in range(8):
        for x in range(8):
            exp = min(255, max(0, ((icb[y][x] * cwv + crnd) >> cwd)
                               + cov))
            assert pcb[y][x] == exp, (x, y)


def test_p_skip_applies_explicit_weighted_prediction():
    """P_Skip under weighted_pred = 1: spec 8.4.2.3 applies the
    explicit L0 weights (refIdxL0 = 0) to skipped macroblocks exactly
    as to coded ones — fades are skip-heavy, so bypassing weighting on
    skip decodes silently wrong and deblock compounds it across frames
    (round-11 ADVICE fix). Hand stream: one-MB picture, slice is a
    single mb_skip_run = 1 — the P frame must be the weighted
    reference, luma AND both chroma planes."""
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})
    px_y = [[(x * 5 + y * 7) % 256 for x in range(16)]
            for y in range(16)]
    cb = [[(100 + x * 3 + y) % 256 for x in range(8)]
          for y in range(8)]
    cr = [[(60 + x + y * 2) % 256 for x in range(8)]
          for y in range(8)]
    sps_pps = h.nal_units(h.encode_ipcm_yuv(px_y, cb, cr))
    sps_rbsp = sps_pps[0][2]
    pps = h._W()
    pps.ue(0); pps.ue(0)
    pps.u(0, 1)     # CAVLC
    pps.u(0, 1)
    pps.ue(0)
    pps.ue(0); pps.ue(0)
    pps.u(1, 1)     # weighted_pred = 1
    pps.u(0, 2)
    pps.se(0); pps.se(0); pps.se(0)
    pps.u(1, 1); pps.u(0, 1); pps.u(0, 1)
    idr = sps_pps[2][2]
    lwd, wv, ov = 3, 13, 7
    cwd, cwv, cov = 2, 5, -9
    sl = h._W()
    sl.ue(0)
    sl.ue(5)        # P
    sl.ue(0)
    sl.u(1, 4)      # frame_num
    sl.u(0, 1)      # override
    sl.u(0, 1)      # ref mod
    sl.ue(lwd)      # pred_weight_table
    sl.ue(cwd)
    sl.u(1, 1)      # luma_weight_l0_flag
    sl.se(wv)
    sl.se(ov)
    sl.u(1, 1)      # chroma_weight_l0_flag
    sl.se(cwv); sl.se(cov)
    sl.se(cwv); sl.se(cov)
    sl.u(0, 1)      # adaptive marking
    sl.se(0)        # qp delta
    sl.ue(1)        # deblock off
    sl.ue(1)        # mb_skip_run = 1: the whole picture is P_Skip
    stream = (h._nal(sps_rbsp, 3, 7) + h._nal(pps.trailing(), 3, 8)
              + h._nal(idr, 3, 5) + h._nal(sl.trailing(), 2, 1))
    w, hgt, frames = h.decode_video_yuv(stream)
    assert len(frames) == 2
    iy, icb, icr = frames[0]
    py, pcb, pcr = frames[1]
    rnd = 1 << (lwd - 1)
    for y in range(16):
        for x in range(16):
            exp = min(255, max(0, ((iy[y][x] * wv + rnd) >> lwd) + ov))
            assert py[y][x] == exp, (x, y)
    crnd = 1 << (cwd - 1)
    for plane, ref in ((pcb, icb), (pcr, icr)):
        for y in range(8):
            for x in range(8):
                exp = min(255, max(0, ((ref[y][x] * cwv + crnd) >> cwd)
                                   + cov))
                assert plane[y][x] == exp, (x, y)


def test_b_partition_shapes_hand_stream():
    """Hand-built one-MB B pictures covering the parse paths the
    engine encoder doesn't emit: B_Direct_16x16 (with residual
    syntax), the 16x8 / 8x16 two-partition shapes, and B_8x8 with
    L0/L1/Bi/direct sub-partitions. The I and P references carry the
    SAME picture, so every B prediction (L0 copy, L1 copy, bi
    average, spatial direct) must reconstruct exactly that picture."""
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})
    px = [[((x * 9 + y * 5) % 256, (x * 3) % 256, (y * 7) % 256)
           for x in range(16)] for y in range(16)]

    def b_stream(body_bits):
        ys, cbs, crs = h._rgb_to_420(px)
        base = h.nal_units(h.encode_video_b_skip(px))
        sl = h._W()
        sl.ue(0)
        sl.ue(6)      # B slice
        sl.ue(0)
        sl.u(2, 4)    # frame_num
        sl.u(2, 6)    # poc_lsb 2
        sl.u(1, 1)    # direct_spatial
        sl.u(0, 1)
        sl.u(0, 1)
        sl.u(0, 1)
        sl.se(0)
        sl.ue(1)      # deblock off
        sl.ue(0)      # mb_skip_run 0
        for v, n in body_bits:
            if n == "ue":
                sl.ue(v)
            elif n == "se":
                sl.se(v)
            else:
                sl.u(v, n)
        # IDR + PCM-P from the table-free skip clip, new B slice
        return (h._nal(base[0][2], 3, 7) + h._nal(base[1][2], 3, 8)
                + h._nal(base[2][2], 3, 5) + h._nal(base[3][2], 2, 1)
                + h._nal(sl.trailing(), 0, 1))

    w0, h0, ref_frames = h.decode_video_yuv(h.encode_video_b_skip(px))
    want = ref_frames[0]

    cases = {
        # B_Direct_16x16 WITH residual syntax (cbp 0 via identity map)
        "direct16": [(0, "ue"), (0, "ue")],
        # mb_type 4: B_L0_L0_16x8 — two mvd_l0 pairs, cbp 0
        "16x8_l0": [(4, "ue"), (0, "se"), (0, "se"), (0, "se"),
                    (0, "se"), (0, "ue")],
        # mb_type 7: B_L1_L1_8x16 — two mvd_l1 pairs, cbp 0
        "8x16_l1": [(7, "ue"), (0, "se"), (0, "se"), (0, "se"),
                    (0, "se"), (0, "ue")],
        # mb_type 21: B_Bi_Bi_8x16 — l0 then l1 mvds for both parts
        "8x16_bi": [(21, "ue")] + [(0, "se")] * 8 + [(0, "ue")],
        # B_8x8 (22): subs = L0_8x8, L1_8x8, Bi_8x8, Direct_8x8;
        # mvds: l0 for subs 0 and 2, l1 for subs 1 and 2
        "b8x8": [(22, "ue"), (1, "ue"), (2, "ue"), (3, "ue"),
                 (0, "ue")] + [(0, "se")] * 8 + [(0, "ue")],
    }
    for name, body in cases.items():
        stream = b_stream(body)
        w, hgt, frames = h.decode_video_yuv(stream)
        assert len(frames) == 3, name
        assert frames[2] == want, f"{name}: B recon != reference"
        assert frames[1] == want, name


def test_temporal_direct_scales_colocated_motion_hand_stream():
    """End-to-end temporal direct with a REAL colocated motion field:
    I_PCM IDR (poc 0), then a reference P picture at poc 8 whose
    single macroblock is P_L0_16x16 with mv (16, 0) quarter-pel
    (= 1 full-pel shift of... 4 px), then a B at poc 2 coded
    B_Direct_16x16 under direct_spatial_mv_pred_flag = 0. The decoder
    must map the colocated reference (the I picture, by POC), scale:
    dsf = 64, mvL0 = (64*16+128)>>8 = (4, 0), mvL1 = mvL0 - mvCol =
    (-12, 0), and bi-average the two fetches. Expected luma computed
    here with the same edge-clamp rule, independent of the decoder's
    MC code path."""
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})
    px = [[((x * 16 + y) % 256, 120, 130) for x in range(16)]
          for y in range(16)]
    base = h.nal_units(h.encode_video_b_skip(px))

    psl = h._W()
    psl.ue(0)
    psl.ue(5)       # P
    psl.ue(0)
    psl.u(1, 4)     # frame_num
    psl.u(8, 6)     # poc_lsb 8
    psl.u(0, 1)     # override
    psl.u(0, 1)     # ref mod
    psl.u(0, 1)     # adaptive marking
    psl.se(0)       # qp delta
    psl.ue(1)       # deblock off
    psl.ue(0)       # skip run
    psl.ue(0)       # P_L0_16x16
    psl.se(16)      # mvd x (predictor 0: no neighbors)
    psl.se(0)       # mvd y
    psl.ue(0)       # cbp 0 (identity map)

    def b_slice(direct16: bool):
        sl = h._W()
        sl.ue(0)
        sl.ue(6)    # B
        sl.ue(0)
        sl.u(2, 4)  # frame_num
        sl.u(2, 6)  # poc_lsb 2
        sl.u(0, 1)  # direct_spatial_mv_pred_flag = 0: TEMPORAL
        sl.u(0, 1)
        sl.u(0, 1)
        sl.u(0, 1)
        sl.se(0)
        sl.ue(1)    # deblock off
        if direct16:
            sl.ue(0)    # skip run 0
            sl.ue(0)    # B_Direct_16x16
            sl.ue(0)    # cbp 0
        else:
            sl.ue(1)    # mb_skip_run = 1: whole picture is B_Skip
        return sl

    for direct16 in (True, False):
        stream = (h._nal(base[0][2], 3, 7) + h._nal(base[1][2], 3, 8)
                  + h._nal(base[2][2], 3, 5)
                  + h._nal(psl.trailing(), 2, 1)
                  + h._nal(b_slice(direct16).trailing(), 0, 1))
        w, hgt, frames = h.decode_video_yuv(stream)
        assert len(frames) == 3
        iy = frames[0][0]
        py = frames[1][0]
        by = frames[2][0]

        def cl(x):
            return min(15, max(0, x))

        # the P picture itself: I shifted 4 px left with edge clamp
        for y in range(16):
            for x in range(16):
                assert py[y][x] == iy[y][cl(x + 4)], ("P", x, y)
        # B: avg of I at +1 px (mvL0 = 4 qpel) and P at -3 px
        # (mvL1 = -12 qpel), each with its own clamp
        for y in range(16):
            for x in range(16):
                l0 = iy[y][cl(x + 1)]
                l1 = py[y][cl(x - 3)]
                assert by[y][x] == (l0 + l1 + 1) >> 1, \
                    (direct16, x, y)


def test_temporal_direct_8x8_inference_corners_hand_stream():
    """direct_8x8_inference_flag changes WHICH colocated blocks
    temporal direct consults: per-4x4 without it, the 8x8 quadrant
    CORNERS with it. Hand stream: the colocated P macroblock is
    P_8x8 whose first quadrant splits 8x4 with mvs (16,0) over
    (0,0) — so colocated block row 1 columns 0..1 disagree with
    their quadrant corner (0,0). Decoding the same B picture under
    both SPS flags must follow each rule exactly (expectations
    computed here from the scaled MVs and clamped fetches; the two
    outputs provably differ in that region). Hand derivation of the
    P medians: part (0,4,8,4)'s only ref-0 neighbor is the block
    above -> predictor (16,0), so mvd (-16,0) lands mv (0,0); the
    8x8 quadrants take left-only/median predictors of (16,0)/(0,0)
    as annotated in the body."""
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})
    px = [[((x * 16 + y) % 256, 120, 130) for x in range(16)]
          for y in range(16)]

    def build(infer: bool) -> bytes:
        base = h.nal_units(h.encode_video_b_skip(px,
                                                 direct8x8=infer))
        psl = h._W()
        psl.ue(0)
        psl.ue(5)       # P
        psl.ue(0)
        psl.u(1, 4)     # frame_num
        psl.u(8, 6)     # poc 8
        psl.u(0, 1)
        psl.u(0, 1)
        psl.u(0, 1)     # adaptive marking
        psl.se(0)
        psl.ue(1)       # deblock off
        psl.ue(0)       # skip run
        psl.ue(3)       # P_8x8
        psl.ue(1)       # quadrant 0: 8x4
        psl.ue(0)       # quadrants 1..3: 8x8
        psl.ue(0)
        psl.ue(0)
        # mvds in part order; predictors hand-derived: p0 no
        # neighbors -> (0,0); p1 above-only -> (16,0); p2 left-only
        # -> (16,0); p3 median(0, (0,0), (16,0)) -> (0,0); p4
        # median((0,0), (16,0), (0,0)) -> (0,0)
        for dx, dy in ((16, 0), (-16, 0), (0, 0), (0, 0), (0, 0)):
            psl.se(dx)
            psl.se(dy)
        psl.ue(0)       # cbp 0
        bsl = h._W()
        bsl.ue(0)
        bsl.ue(6)       # B
        bsl.ue(0)
        bsl.u(2, 4)
        bsl.u(2, 6)     # poc 2
        bsl.u(0, 1)     # TEMPORAL direct
        bsl.u(0, 1)
        bsl.u(0, 1)
        bsl.u(0, 1)
        bsl.se(0)
        bsl.ue(1)
        bsl.ue(0)       # skip run
        bsl.ue(0)       # B_Direct_16x16
        bsl.ue(0)       # cbp 0
        return (h._nal(base[0][2], 3, 7) + h._nal(base[1][2], 3, 8)
                + h._nal(base[2][2], 3, 5)
                + h._nal(psl.trailing(), 2, 1)
                + h._nal(bsl.trailing(), 0, 1))

    def cl(x):
        return min(15, max(0, x))

    outs = {}
    for infer in (False, True):
        w, hgt, frames = h.decode_video_yuv(build(infer))
        iy, py, by = frames[0][0], frames[1][0], frames[2][0]
        # the P picture: quadrant 0 rows 0-3 and quadrant 1 shifted
        # 4 px left, everything else an exact copy
        for y in range(16):
            for x in range(16):
                mvp = 16 if ((y < 4 and x < 8) or (y < 8 and x >= 8)) \
                    else 0
                assert py[y][x] == iy[y][cl(x + mvp // 4)], \
                    ("P", infer, x, y)
        # colocated mv per 4x4 block row/col (quarter-pel)
        grid = [[16, 16, 16, 16], [0, 0, 16, 16],
                [0, 0, 0, 0], [0, 0, 0, 0]]
        for by4 in range(4):
            for bx4 in range(4):
                if infer:
                    mvcol = grid[3 if by4 >= 2 else 0][
                        3 if bx4 >= 2 else 0]
                else:
                    mvcol = grid[by4][bx4]
                # dsf = 64: mvL0 = (64*mvcol+128)>>8, mvL1 = L0-col
                mv0 = (64 * mvcol + 128) >> 8
                mv1 = mv0 - mvcol
                for yy in range(4 * by4, 4 * by4 + 4):
                    for xx in range(4 * bx4, 4 * bx4 + 4):
                        l0 = iy[yy][cl(xx + mv0 // 4)]
                        l1 = py[yy][cl(xx + mv1 // 4)]
                        assert by[yy][xx] == (l0 + l1 + 1) >> 1, \
                            (infer, xx, yy, mvcol)
        outs[infer] = by
    assert outs[False] != outs[True]   # the flag provably matters


def test_temporal_direct_l1_only_colocated_falls_back_to_l1():
    """A colocated block predicted L1-ONLY (a reference B picture)
    carries (0, 0, -1) in its L0 grid; 8.4.1.2.1 takes its L1 motion
    instead of treating the block as intra. Hand stream: I_PCM IDR
    (poc 0), P at poc 8 = I shifted 4 px, then a REFERENCE B at poc 4
    coded B_L1_16x16 with mv (16, 0) against the P — its L0 grid is
    all-(-1) — then a non-reference temporal-direct B at poc 2 whose
    RefPicList1[0] is that B. Derivation computed here by hand:
    mvCol = (16, 0) from the colocated L1, colpoc = 8 -> refIdxL0 = 2
    (the P); tb = -6, td = -4 -> DistScaleFactor = 384; mvL0 =
    (384*16+128)>>8 = 24 qpel (6 px into P), mvL1 = 24-16 = 8 qpel
    (2 px into the B) — BOTH fetches resolve to I shifted 10 px, so
    every output pixel must equal iy[y][clamp(x+10)] exactly (the
    pre-fix intra treatment would bi-average I at 0 px with the B at
    0 px instead)."""
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})
    px = [[((x * 16 + y) % 256, 120, 130) for x in range(16)]
          for y in range(16)]
    base = h.nal_units(h.encode_video_b_skip(px))
    # own SPS/PPS: identical geometry but max_num_ref_frames = 3 so
    # the I, P and reference-B all stay in the sliding window
    hdrs = h._write_sps_pps(1, 1, 16, 16, max_ref=3, poc0=True)

    psl = h._W()
    psl.ue(0)
    psl.ue(5)       # P
    psl.ue(0)
    psl.u(1, 4)     # frame_num
    psl.u(8, 6)     # poc 8
    psl.u(0, 1)     # override
    psl.u(0, 1)     # ref mod
    psl.u(0, 1)     # adaptive marking
    psl.se(0)
    psl.ue(1)       # deblock off
    psl.ue(0)       # skip run
    psl.ue(0)       # P_L0_16x16
    psl.se(16)      # mvd (predictor 0)
    psl.se(0)
    psl.ue(0)       # cbp 0

    b1 = h._W()     # REFERENCE B, L1-only prediction
    b1.ue(0)
    b1.ue(6)        # B
    b1.ue(0)
    b1.u(2, 4)      # frame_num
    b1.u(4, 6)      # poc 4
    b1.u(0, 1)      # direct_spatial (unused: no direct MBs)
    b1.u(0, 1)      # override
    b1.u(0, 1)      # ref mod l0
    b1.u(0, 1)      # ref mod l1
    b1.u(0, 1)      # adaptive marking (reference slice)
    b1.se(0)
    b1.ue(1)        # deblock off
    b1.ue(0)        # skip run
    b1.ue(2)        # B_L1_16x16
    b1.se(16)       # mvd l1 (predictor 0)
    b1.se(0)
    b1.ue(0)        # cbp 0
    psl_bytes = psl.trailing()   # trailing() mutates: hoist
    b1_bytes = b1.trailing()

    def b2(direct16: bool):
        sl = h._W()
        sl.ue(0)
        sl.ue(6)
        sl.ue(0)
        sl.u(3, 4)  # frame_num
        sl.u(2, 6)  # poc 2
        sl.u(0, 1)  # direct_spatial = 0: TEMPORAL
        sl.u(0, 1)
        sl.u(0, 1)
        sl.u(0, 1)
        sl.se(0)
        sl.ue(1)    # deblock off
        if direct16:
            sl.ue(0)    # skip run 0
            sl.ue(0)    # B_Direct_16x16
            sl.ue(0)    # cbp 0
        else:
            sl.ue(1)    # whole picture is B_Skip
        return sl

    for direct16 in (True, False):
        stream = (hdrs + h._nal(base[2][2], 3, 5)
                  + h._nal(psl_bytes, 2, 1)
                  + h._nal(b1_bytes, 2, 1)
                  + h._nal(b2(direct16).trailing(), 0, 1))
        w, hgt, frames = h.decode_video_yuv(stream)
        assert len(frames) == 4
        iy = frames[0][0]
        b1y = frames[2][0]
        by = frames[3][0]

        def cl(x):
            return min(15, max(0, x))

        # the reference B itself: P (I at +4) fetched at +4 -> I+8
        for y in range(16):
            for x in range(16):
                assert b1y[y][x] == iy[y][cl(x + 8)], ("B1", x, y)
        for y in range(16):
            for x in range(16):
                assert by[y][x] == iy[y][cl(x + 10)], \
                    (direct16, x, y)


def test_implicit_bipred_hand_stream_pins_weight_formula():
    """Hand stream under weighted_bipred_idc = 2 with DIFFERENT
    constant-value anchors (I = 100, P = 200) and asymmetric POCs
    (0 / 8, B at 2): a B_Bi_16x16 macroblock must produce
    ((100*48 + 200*16 + 32) >> 6) + 0 = 125 everywhere — the default
    average would give 150, so the POC-distance weights are pinned by
    value, luma and chroma."""
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})
    b, recons = h.encode_video_b_yuv(
        [([[100] * 16 for _ in range(16)],
          [[60] * 8 for _ in range(8)], [[90] * 8 for _ in range(8)]),
         ([[0] * 16 for _ in range(16)],
          [[0] * 8 for _ in range(8)], [[0] * 8 for _ in range(8)]),
         ([[200] * 16 for _ in range(16)],
          [[160] * 8 for _ in range(8)],
          [[190] * 8 for _ in range(8)])],
        qp=8, implicit=True, poc_p=8)
    base = h.nal_units(b)   # SPS(+wbipred=2 PPS), IDR, P — reuse
    sl = h._W()
    sl.ue(0)
    sl.ue(6)    # B
    sl.ue(0)
    sl.u(2, 4)
    sl.u(2, 6)  # poc 2
    sl.u(1, 1)  # spatial direct flag (irrelevant: no direct MBs)
    sl.u(0, 1)
    sl.u(0, 1)
    sl.u(0, 1)
    sl.se(0)
    sl.ue(1)
    sl.ue(0)    # skip run
    sl.ue(3)    # B_Bi_16x16
    sl.se(0); sl.se(0)    # mvd l0
    sl.se(0); sl.se(0)    # mvd l1
    sl.ue(0)    # cbp 0
    stream = (h._nal(base[0][2], 3, 7) + h._nal(base[1][2], 3, 8)
              + h._nal(base[2][2], 3, 5) + h._nal(base[3][2], 2, 1)
              + h._nal(sl.trailing(), 0, 1))
    w, hgt, frames = h.decode_video_yuv(stream)
    by, bcb, bcr = frames[2]
    assert by[0][0] == ((100 * 48 + 200 * 16 + 32) >> 6)  # 125
    assert all(v == 125 for row in by for v in row)
    assert all(v == ((60 * 48 + 160 * 16 + 32) >> 6)
               for row in bcb for v in row)
    assert all(v == ((90 * 48 + 190 * 16 + 32) >> 6)
               for row in bcr for v in row)


def test_b_16x8_partitions_use_distinct_mvs():
    """The two partitions of a 16x8 B macroblock carry independent
    motion: a nonzero mvd on the BOTTOM partition moves only the
    bottom half (content check against the shifted reference)."""
    h.load_cavlc_tables({"cbp_inter": [[i, i] for i in range(48)]})
    px = [[((x * 9 + y * 5) % 256, 120, 130) for x in range(16)]
          for y in range(16)]
    ys, cbs, crs = h._rgb_to_420(px)
    base = h.nal_units(h.encode_video_b_skip(px))
    sl = h._W()
    sl.ue(0); sl.ue(6); sl.ue(0)
    sl.u(2, 4); sl.u(2, 6)
    sl.u(1, 1); sl.u(0, 1); sl.u(0, 1); sl.u(0, 1)
    sl.se(0); sl.ue(1)
    sl.ue(0)        # skip run
    sl.ue(4)        # B_L0_L0_16x8
    sl.se(0); sl.se(0)      # top mvd (0,0)
    sl.se(-4); sl.se(0)     # bottom mvd: predictor is top's (0,0)
    sl.ue(0)        # cbp 0
    stream = (h._nal(base[0][2], 3, 7) + h._nal(base[1][2], 3, 8)
              + h._nal(base[2][2], 3, 5) + h._nal(base[3][2], 2, 1)
              + h._nal(sl.trailing(), 0, 1))
    w, hgt, frames = h.decode_video_yuv(stream)
    iy = frames[0][0]
    by = frames[2][0]
    # top half: exact copy; bottom half: sampled one full pel to the
    # LEFT (mvx = -4 quarter-pel), with the x = 0 edge clamp
    assert by[:8] == iy[:8]
    for y in range(8, 16):
        assert by[y][0] == iy[y][0], y
        for x in range(1, 16):
            assert by[y][x] == iy[y][x - 1], (x, y)


# ------------------------------------- r12: ref list mod + MMCO


def test_apply_ref_mod_wrap_arithmetic():
    """8.2.4.3.1 unit pins: the picNum predictor chains across
    commands with MaxPicNum wrap, and FrameNumWrap maps a stored
    frame_num above the current one to a negative PicNum."""
    e15 = ("p15",) + (None,) * 7 + (15,)
    e0 = ("p0",) + (None,) * 7 + (0,)
    e1 = ("p1",) + (None,) * 7 + (1,)
    # cur_fn 1, MaxFrameNum 16; initial order [e1, e0, e15]
    lst = h._apply_ref_mod([e1, e0, e15], [(0, 0)], 1, 16)
    assert [x[0] for x in lst] == ["p0", "p1", "p15"]
    # chained: first to picNum 0, then pred 0 - 1 -> wraps to 15 ->
    # PicNum 15 - 16 = -1 selects the oldest
    lst = h._apply_ref_mod([e1, e0, e15], [(0, 0), (0, 0)], 1, 16)
    assert [x[0] for x in lst] == ["p0", "p15", "p1"]
    # idc 1 steps the predictor UP
    lst = h._apply_ref_mod([e1, e0, e15], [(0, 1), (1, 0)], 1, 16)
    assert [x[0] for x in lst] == ["p15", "p0", "p1"]
    with pytest.raises(ValueError, match="PicNum"):
        h._apply_ref_mod([e1, e0], [(0, 2)], 1, 16)


def _ipcm_pic_r12(ys, cbs, crs, idr, frame_num, mmco=None):
    sl = h._W()
    sl.ue(0)
    sl.ue(7)
    sl.ue(0)
    sl.u(frame_num, 4)
    if idr:
        sl.ue(0)
        sl.u(1, 1)
        sl.u(0, 1)
    elif mmco:
        sl.u(1, 1)      # adaptive_ref_pic_marking_mode_flag
        for cmd in mmco:
            for v in cmd:
                sl.ue(v)
        sl.ue(0)
    else:
        sl.u(0, 1)
    sl.se(0)
    sl.ue(1)
    sl.ue(25)
    sl.byte_align_zero()
    for yy in range(16):
        for xx in range(16):
            sl.u(ys[yy][xx], 8)
    for plane in (cbs, crs):
        for yy in range(8):
            for xx in range(8):
                sl.u(plane[yy][xx], 8)
    return h._nal(sl.trailing(), 3, 5 if idr else 1)


def _two_ref_head():
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    f1 = [[255 - f0[y][x] for x in range(16)] for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]
    c1 = [[200] * 8 for _ in range(8)]
    head = (h._write_sps_pps(1, 1, 16, 16, max_ref=2)
            + _ipcm_pic_r12(f0, c0, c0, True, 0)
            + _ipcm_pic_r12(f1, c1, c1, False, 1))
    return head, (f0, c0), (f1, c1)


def test_ref_list_modification_reorders_p_prediction():
    """Hand stream: after [IDR f0, I_PCM f1] the default L0 order is
    most-recent-first, so a zero-MV P copies f1; the SAME P slice
    with ref_pic_list_modification (idc 0, abs_diff 1 -> picNum 0)
    lifts f0 to index 0 and the P copies f0 instead — the
    modification provably reorders prediction."""
    _cbp_inter_identity()
    head, (f0, c0), (f1, c1) = _two_ref_head()

    def p_slice(modify: bool):
        sl = h._W()
        sl.ue(0)
        sl.ue(5)
        sl.ue(0)
        sl.u(2, 4)      # frame_num 2
        sl.u(0, 1)      # no override (1 active ref)
        if modify:
            sl.u(1, 1)
            sl.ue(0)    # idc 0: subtract
            sl.ue(1)    # abs_diff_pic_num_minus1 = 1 -> picNum 0
            sl.ue(3)
        else:
            sl.u(0, 1)
        sl.u(0, 1)      # adaptive marking
        sl.se(0)
        sl.ue(1)
        sl.ue(0)        # skip run
        sl.ue(0)        # P_L0_16x16
        sl.se(0)
        sl.se(0)
        sl.ue(0)        # cbp 0
        return h._nal(sl.trailing(), 2, 1)

    for modify, want in ((False, None), (True, None)):
        w, hgt, out = h.decode_video_yuv(head + p_slice(modify))
        assert len(out) == 3
        assert out[2] == ((f0, c0, c0) if modify else (f1, c1, c1))


def test_mmco_unmarks_short_term_reference():
    """The second I_PCM picture carries MMCO 1 with
    difference_of_pic_nums_minus1 = 0 (picNumX = 1 - 1 = 0): the IDR
    leaves the DPB, so a following P that declares 2 active refs and
    selects ref_idx 1 must fail the DPB bound — while without the
    MMCO the same P decodes and copies the IDR."""
    _cbp_inter_identity()
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    f1 = [[255 - f0[y][x] for x in range(16)] for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]
    c1 = [[200] * 8 for _ in range(8)]
    sps_pps = h._write_sps_pps(1, 1, 16, 16, max_ref=2)

    def stream(with_mmco: bool):
        psl = h._W()
        psl.ue(0)
        psl.ue(5)
        psl.ue(0)
        psl.u(2, 4)
        psl.u(1, 1)     # override: 2 active refs
        psl.ue(1)
        psl.u(0, 1)     # no modification
        psl.u(0, 1)     # marking
        psl.se(0)
        psl.ue(1)
        psl.ue(0)
        psl.ue(0)       # P_L0_16x16
        psl.u(0, 1)     # te(v) ref_idx = 1
        psl.se(0)
        psl.se(0)
        psl.ue(0)
        return (sps_pps + _ipcm_pic_r12(f0, c0, c0, True, 0)
                + _ipcm_pic_r12(f1, c1, c1, False, 1,
                                mmco=[(1, 0)] if with_mmco else None)
                + h._nal(psl.trailing(), 2, 1))

    w, hgt, out = h.decode_video_yuv(stream(False))
    assert out[2] == (f0, c0, c0)
    with pytest.raises(ValueError, match="beyond the DPB"):
        h.decode_video_yuv(stream(True))
    # MMCO also suppresses the sliding window: without it a 3rd ref
    # at max_ref=2 would evict the IDR anyway; with MMCO the window
    # holds [f1] only -> ref 0 still decodes
    base = stream(True)
    psl0 = h._W()
    psl0.ue(0)
    psl0.ue(5)
    psl0.ue(0)
    psl0.u(2, 4)
    psl0.u(0, 1)
    psl0.u(0, 1)
    psl0.u(0, 1)
    psl0.se(0)
    psl0.ue(1)
    psl0.ue(0)
    psl0.ue(0)
    psl0.se(0)
    psl0.se(0)
    psl0.ue(0)
    ok = (sps_pps + _ipcm_pic_r12(f0, c0, c0, True, 0)
          + _ipcm_pic_r12(f1, c1, c1, False, 1, mmco=[(1, 0)])
          + h._nal(psl0.trailing(), 2, 1))
    w, hgt, out = h.decode_video_yuv(ok)
    assert out[2] == (f1, c1, c1)


def test_mmco5_reset_unmarks_all_and_reorigins():
    """MMCO 5 (r12): every reference leaves the DPB, the carrying
    picture is re-origined at frame_num 0, and PicNum arithmetic
    restarts from it — a following P at frame_num 1 that targets
    PicNum 0 via modification reconstructs the RESET picture, and a
    2-active-ref P fails the now-single-entry DPB bound."""
    _cbp_inter_identity()
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    f1 = [[255 - f0[y][x] for x in range(16)] for y in range(16)]
    f2 = [[(7 * x + 3 * y) % 256 for x in range(16)]
          for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]
    c1 = [[200] * 8 for _ in range(8)]
    c2 = [[50] * 8 for _ in range(8)]
    head = (h._write_sps_pps(1, 1, 16, 16, max_ref=2)
            + _ipcm_pic_r12(f0, c0, c0, True, 0)
            + _ipcm_pic_r12(f1, c1, c1, False, 1)
            + _ipcm_pic_r12(f2, c2, c2, False, 2, mmco=[(5,)]))
    # frame_num restarts: the probe at fn 1 selects PicNum 0 = f2
    probe = _lt_p_slice(1, mod=[(0, 0)])
    w, hgt, out = h.decode_video_yuv(head + probe)
    assert out[3] == (f2, c2, c2)
    # only one reference remains (te(v): bit 0 -> ref_idx 1)
    probe2 = _lt_p_slice(1, ref_bit=0, two_refs=True)
    with pytest.raises(ValueError, match="beyond the DPB"):
        h.decode_video_yuv(head + probe2)
    # out-of-range MMCO op still rejects
    sl = h._W()
    sl.ue(0); sl.ue(7); sl.ue(0); sl.u(1, 4)
    sl.u(1, 1)
    sl.ue(7)
    with pytest.raises(ValueError, match="out of range"):
        h.decode_video_yuv(head + h._nal(sl.trailing(), 3, 1))


# ------------------------------------- r12: long-term references


def _lt_p_slice(frame_num, ref_bit=None, mod=None, mmco=None,
                two_refs=False):
    """Zero-MV cbp-0 P_L0_16x16 slice with optional override /
    modification / marking — the probe picture for the long-term
    tests (its recon equals whichever reference ref_idx selects)."""
    sl = h._W()
    sl.ue(0)
    sl.ue(5)
    sl.ue(0)
    sl.u(frame_num, 4)
    if two_refs:
        sl.u(1, 1)
        sl.ue(1)
    else:
        sl.u(0, 1)
    if mod:
        sl.u(1, 1)
        for cmd in mod:
            for v in cmd:
                sl.ue(v)
        sl.ue(3)
    else:
        sl.u(0, 1)
    if mmco:
        sl.u(1, 1)
        for cmd in mmco:
            for v in cmd:
                sl.ue(v)
        sl.ue(0)
    else:
        sl.u(0, 1)
    sl.se(0)
    sl.ue(1)
    sl.ue(0)
    sl.ue(0)        # P_L0_16x16
    if ref_bit is not None:
        sl.u(ref_bit, 1)   # te(v) for 2 active refs
    sl.se(0)
    sl.se(0)
    sl.ue(0)
    return h._nal(sl.trailing(), 2, 1)


def test_mmco3_long_term_survives_sliding_window():
    """MMCO 3 converts the IDR to LongTermFrameIdx 0; with
    max_ref=2 and three further short-term references the window
    would have evicted it — the long-term entry survives in the
    list TAIL (8.2.4.2) and a P selecting ref_idx 1 reconstructs
    the IDR exactly. The long-term entry also stops matching
    short-term PicNums (a second MMCO-1 aimed at its old PicNum is
    a no-op on it)."""
    _cbp_inter_identity()
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    f1 = [[255 - f0[y][x] for x in range(16)] for y in range(16)]
    f2 = [[(7 * x + 3 * y) % 256 for x in range(16)]
          for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]
    c1 = [[200] * 8 for _ in range(8)]
    c2 = [[50] * 8 for _ in range(8)]
    head = (h._write_sps_pps(1, 1, 16, 16, max_ref=2)
            + _ipcm_pic_r12(f0, c0, c0, True, 0)
            # I_PCM ref at fn 1 carrying MMCO 3: short-term PicNum 0
            # (diff_minus1 0) -> LongTermFrameIdx 0
            + _ipcm_pic_r12(f1, c1, c1, False, 1,
                            mmco=[(3, 0, 0)])
            + _ipcm_pic_r12(f2, c2, c2, False, 2))
    # now DPB: [f2 (short, fn 2), f1 (short, fn 1), f0 (LT 0)] — f0
    # survived although 3 entries > max_ref because the window only
    # evicts short-terms... (f1 got evicted: cap 2 -> oldest short)
    # P with 2 active refs: init list = [f2, f0(LT tail)]; ref 1 = f0
    probe = _lt_p_slice(3, ref_bit=0, two_refs=True)
    w, hgt, out = h.decode_video_yuv(head + probe)
    assert out[3] == (f0, c0, c0)
    # ref 0 = the newest short-term
    probe0 = _lt_p_slice(3, ref_bit=1, two_refs=True)
    w, hgt, out = h.decode_video_yuv(head + probe0)
    assert out[3] == (f2, c2, c2)


def test_ref_mod_idc2_lifts_long_term():
    _cbp_inter_identity()
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    f1 = [[255 - f0[y][x] for x in range(16)] for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]
    c1 = [[200] * 8 for _ in range(8)]
    head = (h._write_sps_pps(1, 1, 16, 16, max_ref=2)
            + _ipcm_pic_r12(f0, c0, c0, True, 0)
            + _ipcm_pic_r12(f1, c1, c1, False, 1,
                            mmco=[(3, 0, 0)]))
    # single active ref; idc 2 lifts LongTermPicNum 0 (= f0) to
    # index 0 ahead of the short-term f1
    probe = _lt_p_slice(2, mod=[(2, 0)])
    w, hgt, out = h.decode_video_yuv(head + probe)
    assert out[2] == (f0, c0, c0)
    # without the modification ref 0 is the short-term f1
    probe0 = _lt_p_slice(2)
    w, hgt, out = h.decode_video_yuv(head + probe0)
    assert out[2] == (f1, c1, c1)


def test_mmco2_and_mmco4_unmark_long_terms():
    _cbp_inter_identity()
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    f1 = [[255 - f0[y][x] for x in range(16)] for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]
    c1 = [[200] * 8 for _ in range(8)]
    base = (h._write_sps_pps(1, 1, 16, 16, max_ref=2)
            + _ipcm_pic_r12(f0, c0, c0, True, 0)
            + _ipcm_pic_r12(f1, c1, c1, False, 1,
                            mmco=[(3, 0, 0)]))
    for unmark in ([(2, 0)],      # by LongTermPicNum
                   [(4, 0)]):     # max_long_term_frame_idx_plus1 0
        kill = _ipcm_pic_r12(f1, c1, c1, False, 2, mmco=unmark)
        # after unmarking, 2 active refs overrun the 2-entry DPB?
        # DPB = [fn2, fn1] shorts — ref 1 decodes to f1; the
        # LONG-TERM tail is gone, so idc-2 modification now fails
        probe = _lt_p_slice(3, mod=[(2, 0)])
        with pytest.raises(ValueError, match="LongTermPicNum"):
            h.decode_video_yuv(base + kill + probe)


def test_mmco6_marks_current_as_long_term():
    _cbp_inter_identity()
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    f1 = [[255 - f0[y][x] for x in range(16)] for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]
    c1 = [[200] * 8 for _ in range(8)]
    head = (h._write_sps_pps(1, 1, 16, 16, max_ref=2)
            + _ipcm_pic_r12(f0, c0, c0, True, 0)
            # fn-1 picture marks ITSELF long-term idx 0 (MMCO 6)
            + _ipcm_pic_r12(f1, c1, c1, False, 1, mmco=[(6, 0)]))
    probe = _lt_p_slice(2, mod=[(2, 0)])
    w, hgt, out = h.decode_video_yuv(head + probe)
    assert out[2] == (f1, c1, c1)


def test_idr_long_term_reference_flag():
    _cbp_inter_identity()
    f0 = [[(x * 16 + y) % 256 for x in range(16)] for y in range(16)]
    c0 = [[100] * 8 for _ in range(8)]

    # an IDR whose long_term_reference_flag is SET becomes LT 0
    sl = h._W()
    sl.ue(0)
    sl.ue(7)
    sl.ue(0)
    sl.u(0, 4)
    sl.ue(0)        # idr_pic_id
    sl.u(1, 1)      # no_output_of_prior_pics
    sl.u(1, 1)      # long_term_reference_flag = 1
    sl.se(0)
    sl.ue(1)
    sl.ue(25)
    sl.byte_align_zero()
    for yy in range(16):
        for xx in range(16):
            sl.u(f0[yy][xx], 8)
    for _plane in range(2):
        for yy in range(8):
            for xx in range(8):
                sl.u(c0[yy][xx], 8)
    head = (h._write_sps_pps(1, 1, 16, 16, max_ref=2)
            + h._nal(sl.trailing(), 3, 5))
    probe = _lt_p_slice(1, mod=[(2, 0)])
    w, hgt, out = h.decode_video_yuv(head + probe)
    assert out[1] == (f0, c0, c0)
