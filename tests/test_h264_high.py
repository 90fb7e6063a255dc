"""H.264 High profile (r12): profile-100 SPS/PPS parse, scaling
lists (explicit / copy-previous / seam-gated defaults), the 8x8
transform pair pinned against the published basis matrix, Intra_8x8
prediction, CAVLC-interleaved 8x8 residuals, engine i8 round trips,
and the weighted-dequant qp+6 doubling identity.

Reference parity: the reference repo (pandas+SQLAlchemy ETL) has no
codec surface; this implements ISO/IEC 14496-10 High profile for the
multimodal ingest path."""

import math
import random

import pytest

from data_migration_etl_scripts_spark.operators import h264 as h
from data_migration_etl_scripts_spark.operators import jpeg as jp


@pytest.fixture(autouse=True)
def clean_seam():
    saved = {k: (dict(v) if isinstance(v, dict) else v)
             for k, v in h.CAVLC.items()}
    yield
    h.CAVLC.clear()
    h.CAVLC.update(saved)


def _cbp_seam():
    h.load_cavlc_tables({"cbp_intra": [[i, i] for i in range(48)],
                         "cbp_inter": [[i, i] for i in range(48)]})


# ------------------------------------------------ scan / basis pins


def test_zigzag8_matches_jpeg_scan():
    """The H.264 8x8 zig-zag (Table 8-8) IS the canonical JPEG scan:
    pin the generated order against jpeg.py's independent ZIGZAG
    table (zigzag position -> row-major index)."""
    ours = [8 * i + j for (i, j) in h._ZIG8]
    assert ours == list(jp.ZIGZAG)


def test_itrans8_matches_basis_matrix():
    """The inverse 1D butterfly's floor-free matrix is exactly
    C8^T / 8: probing with shift-exact inputs (x64) reproduces the
    published 8x8 integer-transform basis."""
    for jj in range(8):
        d = [0] * 8
        d[jj] = 64
        assert h._itrans8_1d(d) == [8 * h._C8[jj][i] for i in range(8)]


def test_ftrans8_matches_basis_matrix():
    for jj in range(8):
        x = [0] * 8
        x[jj] = 64
        assert h._ftrans8_1d(x) == [8 * h._C8[i][jj] for i in range(8)]


def test_c8_rows_orthogonal_with_pinned_norms():
    for a in range(8):
        for b in range(8):
            dot = sum(h._C8[a][k] * h._C8[b][k] for k in range(8))
            assert dot == (h._D8N[a] if a == b else 0)


def test_v8_geometric_mean_consistency():
    """The mixed-position 8x8 norm classes are the rounded geometric
    means of the pure ones (k3 ~ sqrt(k0*k1), k4 ~ sqrt(k0*k2),
    k5 ~ sqrt(k1*k2)) and each column steps by ~2^(1/6) per qP%6 —
    the same internal structure the 4x4 _V table has."""
    for m in range(6):
        k = h._V8[m]
        assert abs(k[3] - math.sqrt(k[0] * k[1])) < 1.0
        assert abs(k[4] - math.sqrt(k[0] * k[2])) < 1.0
        assert abs(k[5] - math.sqrt(k[1] * k[2])) < 1.0
    # columns step monotonically and span ~2^(5/6) end to end (the
    # per-entry values are design-rounded, so only the envelope pins)
    for c in range(6):
        col = [h._V8[m][c] for m in range(6)]
        assert all(col[m] < col[m + 1] for m in range(5)), c
        assert abs(col[5] / col[0] - 2 ** (5 / 6)) < 0.05, c


def test_v8_class_partitions_the_grid():
    counts = [0] * 6
    for i in range(8):
        for j in range(8):
            counts[h._v8_class(i, j)] += 1
    assert counts == [4, 16, 4, 16, 8, 16]


# ------------------------------------------------ SPS / PPS parse


def test_high_sps_pps_parse_flat():
    hdrs = h._write_sps_pps(2, 2, 32, 32, high8x8=True)
    nals = h.nal_units(hdrs)
    sps = h.parse_sps(nals[0][2])
    assert sps["profile"] == 100
    assert sps["scaling4"] is None and sps["scaling8"] is None
    pps = h.parse_pps(nals[1][2], sps)
    assert pps["transform_8x8"] == 1
    assert pps["chroma_qp_off2"] == 0
    assert pps["scaling4"] is None


def test_pps_without_high_tail_keeps_defaults():
    hdrs = h._write_sps_pps(2, 2, 32, 32)
    nals = h.nal_units(hdrs)
    pps = h.parse_pps(nals[1][2], h.parse_sps(nals[0][2]))
    assert pps["transform_8x8"] == 0
    assert pps["chroma_qp_off2"] == pps["chroma_qp_off"]


def _high_sps_writer(seq_lists):
    """profile-100 SPS up to the scaling flag, then ``seq_lists`` as
    (present, payload-writer) pairs, then the tail."""
    w = h._W()
    w.u(100, 8)
    w.u(0, 8)
    w.u(30, 8)
    w.ue(0)       # sps id
    w.ue(1)       # chroma_format 4:2:0
    w.ue(0)
    w.ue(0)       # bit depths
    w.u(0, 1)     # bypass
    w.u(1, 1)     # seq_scaling_matrix_present
    for ent in seq_lists:
        if ent is None:
            w.u(0, 1)
        else:
            w.u(1, 1)
            for delta in ent:
                w.se(delta)
    w.ue(0)       # log2_max_frame_num
    w.ue(2)       # poc type 2
    w.ue(1)       # max_ref
    w.u(0, 1)
    w.ue(1)       # width 2 mbs
    w.ue(1)
    w.u(1, 1)     # frame_mbs_only
    w.u(0, 1)
    w.u(0, 1)     # no crop
    w.u(0, 1)     # no vui
    return w


def test_scaling_list_explicit_and_copy_previous():
    """List 0 coded as an explicit delta walk (values 10, 11 x15 in
    scan order); lists 1..7 absent -> 1 and 2 copy list 0
    (fall-back rule A next-list copy); list 3 absent would need the
    default 4x4_inter -> seam raise checked separately, so code
    list 3 explicitly flat 16 and let 4, 5 copy it."""
    l0 = [2] + [1] + [0] * 14        # 8->10, ->11, then hold
    l3 = [8] + [0] * 15              # ->16 flat
    l8 = [10] + [0] * 63             # 8x8 flat 18
    w = _high_sps_writer([l0, None, None, l3, None, None, l8, l8])
    sps = h.parse_sps(w.trailing())
    sc4 = sps["scaling4"]
    assert sc4[0][0] == 10 and all(v == 11 for v in sc4[0][1:])
    assert sc4[1] == sc4[0] and sc4[2] == sc4[0]
    assert all(v == 16 for v in sc4[3])
    assert sc4[4] == sc4[3] and sc4[5] == sc4[3]
    assert all(all(v == 18 for v in m) for m in sps["scaling8"])


def test_scaling_list_absent_defaults_need_seam():
    """Fall-back rule A for absent lists 0/3/6/7 and the
    useDefaultScalingMatrix flag both resolve to Tables 7-3/7-4 —
    tabulated spec data behind the scaling_default seam; without it
    the parse raises NAMING the loader key."""
    w = _high_sps_writer([None] * 8)
    with pytest.raises(NotImplementedError, match="scaling_default"):
        h.parse_sps(w.trailing())
    # useDefaultScalingMatrixFlag: first delta_scale lands nextScale
    # 0 and the parser reads NO further deltas for that list
    w2 = _high_sps_writer([[-8]] + [None] * 7)
    with pytest.raises(NotImplementedError, match="4x4_intra"):
        h.parse_sps(w2.trailing())


def test_scaling_list_defaults_resolve_through_seam():
    """With an injected (synthetic) scaling_default family the same
    stream parses, and the default values land in scan order."""
    h.load_cavlc_tables({"scaling_default": {
        "4x4_intra": list(range(6, 22)),
        "4x4_inter": [16] * 16,
        "8x8_intra": list(range(4, 68)),
        "8x8_inter": [20] * 64,
    }})
    w = _high_sps_writer([None] * 8)
    sps = h.parse_sps(w.trailing())
    # scan value k lands at the zig-zag position
    zig0 = h._ZIG4[0]
    assert sps["scaling4"][0][4 * zig0[0] + zig0[1]] == 6
    k5 = h._ZIG4[5]
    assert sps["scaling4"][0][4 * k5[0] + k5[1]] == 11
    assert all(v == 16 for v in sps["scaling4"][3])
    z8 = h._ZIG8[10]
    assert sps["scaling8"][0][8 * z8[0] + z8[1]] == 14
    assert all(v == 20 for v in sps["scaling8"][1])


def test_scaling_default_seam_validates():
    with pytest.raises(ValueError, match="scaling_default"):
        h.load_cavlc_tables({"scaling_default": {"4x4_intra": [1, 2]}})
    with pytest.raises(ValueError, match="unknown"):
        h.load_cavlc_tables({"scaling_default": {"6x6_intra": [1] * 16}})


# ------------------------------------------------ Intra_8x8 pred


def test_pred8_vertical_horizontal_dc_hand_values():
    top = list(range(10, 18))
    left = list(range(50, 58))
    ext = top + [top[7]] * 8     # top-right substituted pre-filter
    assert h._pred8(0, top, None, None, None)[0] == [
        (3 * 10 + 11 + 2) >> 2] + [
        (ext[x - 1] + 2 * ext[x] + ext[x + 1] + 2) >> 2
        for x in range(1, 8)]
    hz = h._pred8(1, None, left, None, None)
    fl0 = (3 * 50 + 51 + 2) >> 2
    assert hz[0] == [fl0] * 8
    # DC over FILTERED refs
    t, lf, _ = h._filter8_refs(top + [top[7]] * 8, left, None)
    dc = (sum(t[:8]) + sum(lf) + 8) >> 4
    assert h._pred8(2, top, left, None, None)[3][5] == dc
    # no neighbors at all -> 128
    assert h._pred8(2, None, None, None, None)[0][0] == 128


def test_pred8_ddl_corner_and_hu_tail():
    top = [100 + 3 * k for k in range(8)]
    tr = [124 + 3 * k for k in range(8)]
    t, _, _ = h._filter8_refs(top + tr, None, None)
    ddl = h._pred8(3, top, None, None, tr)
    assert ddl[7][7] == (t[14] + 3 * t[15] + 2) >> 2
    assert ddl[0][0] == (t[0] + 2 * t[1] + t[2] + 2) >> 2
    left = [90, 80, 75, 70, 66, 60, 52, 40]
    _, lf, _ = h._filter8_refs(None, left, None)
    hu = h._pred8(8, None, left, None, None)
    assert hu[7][7] == lf[7]                      # beyond the tail
    assert hu[6][1] == (lf[6] + 3 * lf[7] + 2) >> 2   # z == 13
    assert hu[0][0] == (lf[0] + lf[1] + 1) >> 1


def test_pred8_mode4_diagonal_symmetry():
    """DDR on a symmetric corner: pred[x][y] must mirror pred[y][x]
    when top/left are mirror images."""
    top = [10, 20, 30, 40, 50, 60, 70, 80]
    left = list(top)
    p = h._pred8(4, top, left, 55, None)
    for y in range(8):
        for x in range(8):
            assert p[y][x] == p[x][y]


# ------------------------------------------------ engine round trips


def _noise_planes(w, hgt, seed=5):
    rnd = random.Random(seed)
    ys = [[rnd.randrange(256) for _ in range(w)] for _ in range(hgt)]
    cbs = [[rnd.randrange(256) for _ in range(w // 2)]
           for _ in range(hgt // 2)]
    crs = [[rnd.randrange(256) for _ in range(w // 2)]
           for _ in range(hgt // 2)]
    return ys, cbs, crs


def test_i8_round_trip_bit_exact_and_source_bound():
    """The engine High-profile clip: I_PCM bootstrap + Intra_8x8
    all-DC MBs with dense CAVLC-interleaved 8x8 residuals. The
    decoder must land bit-exactly on the encoder's replayed recon at
    every qp, and the recon must track the SOURCE within a small
    qp-scaled bound (one-sided transform/dequant translation bugs
    blow this up even though the round trip stays self-consistent)."""
    _cbp_seam()
    ys, cbs, crs = _noise_planes(48, 48)
    for qp, bound in ((8, 4), (20, 12), (30, 40)):
        b, recon = h.encode_quantized_yuv(ys, cbs, crs, qp=qp,
                                          mb_mode="i8")
        w, hgt, yd, cbd, crd = h.decode_iframe_yuv(b)
        assert (w, hgt) == (48, 48)
        assert yd == recon[0] and cbd == recon[1] and crd == recon[2]
        err = max(abs(yd[y][x] - ys[y][x])
                  for y in range(48) for x in range(48))
        assert err <= bound, (qp, err)


def test_i8_multi_slice_round_trip():
    _cbp_seam()
    for (w, hgt, seed, qp) in ((32, 48, 9, 12), (48, 48, 7, 20)):
        ys, cbs, crs = _noise_planes(w, hgt, seed=seed)
        b, recon = h.encode_quantized_yuv(ys, cbs, crs, qp=qp,
                                          mb_mode="i8", slices=3)
        _, _, yd, cbd, crd = h.decode_iframe_yuv(b)
        assert (yd == recon[0] and cbd == recon[1]
                and crd == recon[2]), (w, hgt, seed, qp)


def test_i8_deblock_round_trip_skips_internal_4px_edges():
    """deblock=True: the encoder's filter replay and the decoder must
    agree bit-exactly — if either side filtered the 4-sample luma
    offsets inside an 8x8-transformed MB (forbidden by 8.7), they'd
    diverge from a replay that skips them."""
    _cbp_seam()
    h.load_cavlc_tables({"deblock_tc0": [[1] * 52, [2] * 52,
                                         [4] * 52]})
    ys, cbs, crs = _noise_planes(48, 32, seed=11)
    b, recon = h.encode_quantized_yuv(ys, cbs, crs, qp=20,
                                      mb_mode="i8", deblock=True)
    _, _, yd, cbd, crd = h.decode_iframe_yuv(b, deblock=True)
    assert yd == recon[0] and cbd == recon[1] and crd == recon[2]


def test_quantized_modes_decode_differently_but_close():
    """i8 and i4 streams of the same content at the same qp produce
    different bits but recon within the same error regime."""
    _cbp_seam()
    ys, cbs, crs = _noise_planes(32, 32, seed=3)
    b8, r8 = h.encode_quantized_yuv(ys, cbs, crs, qp=10, mb_mode="i8")
    b4, r4 = h.encode_quantized_yuv(ys, cbs, crs, qp=10, mb_mode="i4")
    assert b8 != b4
    e8 = max(abs(r8[0][y][x] - ys[y][x])
             for y in range(32) for x in range(32))
    e4 = max(abs(r4[0][y][x] - ys[y][x])
             for y in range(32) for x in range(32))
    assert e8 <= 6 and e4 <= 6


# ------------------------------------- weighted dequant identities


def _pps_rbsp(init_qp, lists32=False, t8=True):
    """PPS with the high tail; lists32 codes ALL pic scaling lists
    as uniform 32 (delta 24 then holds). ``t8=False`` keeps
    transform_8x8_mode off (required for Intra_4x4 streams — the
    I_NxN flag bit must not be expected)."""
    pps = h._W()
    pps.ue(0)
    pps.ue(0)
    pps.u(0, 1)    # CAVLC
    pps.u(0, 1)
    pps.ue(0)
    pps.ue(0)
    pps.ue(0)
    pps.u(0, 1)
    pps.u(0, 2)
    pps.se(init_qp - 26)
    pps.se(0)
    pps.se(0)      # chroma_qp_offset
    pps.u(1, 1)
    pps.u(0, 1)
    pps.u(0, 1)
    pps.u(1 if t8 else 0, 1)    # transform_8x8_mode
    pps.u(1 if lists32 else 0, 1)
    if lists32:
        n_lists = 8 if t8 else 6
        for i in range(n_lists):
            pps.u(1, 1)
            pps.se(24)      # 8 -> 32
            for _ in range((16 if i < 6 else 64) - 1):
                pps.se(0)
    pps.se(0)      # second_chroma_qp_index_offset
    return pps.trailing()


def test_uniform_32_matrix_equals_flat_at_qp_plus_6():
    """Doubling every weightScale entry doubles the dequant step
    EXACTLY like adding 6 to qP (2^(6/6)): the same slice bytes
    under a uniform-32 pic scaling matrix at qp and under flat
    matrices at qp+6 must reconstruct identically — pinning the
    weighted forms of all four dequant paths (4x4 AC, 8x8, luma DC,
    chroma DC) against their folded flat fast paths."""
    _cbp_seam()
    for qp, mode in ((14, "i8"), (14, "i4"), (17, "i16")):
        ys, cbs, crs = _noise_planes(32, 32, seed=qp)
        b, _ = h.encode_quantized_yuv(ys, cbs, crs, qp=qp,
                                      mb_mode=mode)
        nals = h.nal_units(b)
        sps_rbsp = (nals[0][2] if mode == "i8" else
                    h.nal_units(h._write_sps_pps(
                        2, 2, 32, 32, high8x8=True))[0][2])
        slices = b"".join(h._nal(rb, ref, typ)
                          for ref, typ, rb in nals
                          if typ not in (7, 8))
        t8 = mode == "i8"
        s32 = (h._nal(sps_rbsp, 3, 7)
               + h._nal(_pps_rbsp(qp, lists32=True, t8=t8), 3, 8)
               + slices)
        sflat = (h._nal(sps_rbsp, 3, 7)
                 + h._nal(_pps_rbsp(qp + 6, lists32=False, t8=t8),
                          3, 8) + slices)
        f32 = h.decode_iframe_yuv(s32)
        fflat = h.decode_iframe_yuv(sflat)
        assert f32 == fflat, (qp, mode)
        # and the matrix genuinely matters: flat at the SAME qp
        # decodes differently
        fsame = h.decode_iframe_yuv(
            h._nal(sps_rbsp, 3, 7)
            + h._nal(_pps_rbsp(qp, lists32=False, t8=t8), 3, 8)
            + slices)
        assert fsame != f32, (qp, mode)


# ------------------------------------------------ inter 8x8 residual


def test_p_slice_8x8_transform_hand_stream():
    """P_L0_16x16 with transform_size_8x8_flag = 1 and a single
    coded coefficient: expected pixels computed here from _itrans8 /
    _dq8 directly, independent of the decoder's residual path. Also
    pins the flag's position between cbp and mb_qp_delta."""
    _cbp_seam()
    book = [[1, 0b1, 16, 0]]   # total_coeff 16 never used; build own
    # synthetic coeff_token/total_zeros/run_before books: 1 coeff,
    # (1,1) -> '1'; total_zeros 15 -> '0' x? keep simple: book for
    # (tc=1, t1s=1) plus total_zeros[1] mapping 15
    h.load_cavlc_tables({
        "coeff_token": {"0": [[1, 1, 1, 1], [2, 1, 0, 0],
                              [3, 1, 1, 0]]},
        "total_zeros": {"1": [[1, 1, 15], [2, 1, 0]]},
        "run_before": {},
    })
    px = [[((7 * x + 3 * y) % 256, 128, 128) for x in range(16)]
          for y in range(16)]
    base = h.nal_units(h.encode_video_b_skip(px))
    hdrs = h._write_sps_pps(1, 1, 16, 16, high8x8=True, poc0=True,
                            max_ref=2)
    psl = h._W()
    psl.ue(0)
    psl.ue(5)       # P
    psl.ue(0)
    psl.u(1, 4)     # frame_num
    psl.u(8, 6)     # poc 8
    psl.u(0, 1)
    psl.u(0, 1)
    psl.u(0, 1)
    psl.se(0)
    psl.ue(1)       # deblock off
    psl.ue(0)       # skip run
    psl.ue(0)       # P_L0_16x16
    psl.se(0)       # mvd 0, 0
    psl.se(0)
    psl.ue(1)       # cbp 1: first 8x8 block coded (identity map)
    psl.u(1, 1)     # transform_size_8x8_flag = 1
    psl.se(0)       # mb_qp_delta
    # 8x8 block 0 residual: sub 0 carries ONE coefficient (level 3,
    # trailing-one=0? level 3 -> not a trailing one) ... encode via
    # the engine writer for exactness
    lvl = 3
    scan64 = [lvl] + [0] * 63
    for sub in range(4):
        sub_scan = [scan64[4 * k + sub] for k in range(16)]
        h._cavlc_write_block(psl, sub_scan, 0, 16)
    stream = (hdrs + h._nal(base[2][2], 3, 5)
              + h._nal(psl.trailing(), 2, 1))
    w, hgt, frames = h.decode_video_yuv(stream)
    assert len(frames) == 2
    iy = frames[0][0]
    py = frames[1][0]
    qp = 26
    d = [[0] * 8 for _ in range(8)]
    d[0][0] = h._dq8(lvl, qp, 0, 0, None)
    res = h._itrans8(d)
    for y in range(16):
        for x in range(16):
            want = iy[y][x]
            if x < 8 and y < 8:
                want = max(0, min(255, want + ((res[y][x] + 32) >> 6)))
            assert py[y][x] == want, (x, y)
