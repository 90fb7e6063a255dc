"""H.264/AVC (ISO/IEC 14496-10) baseline-profile decode — IDR/I
pictures AND P pictures (r9: motion compensation) — plus engine
encoders, the dominant video coding of crawled corpora, scoped per
the SCALE.md round-8 build-vs-seam analysis.

Reference parity note: the reference ETL repo has no media handling;
this exists for the LLM-data-pipeline addendum (frame extraction /
perceptual hashing over binary video columns — IPPP GOPs now yield
every frame, not just the IDR).

What is STRUCTURAL here (public 14496-10 coding structure, formula
level or self-checking):
  - Annex-B NAL walk: start codes, emulation-prevention unescape
    (00 00 03 xx -> 00 00 xx), nal_ref_idc/type header
  - Exp-Golomb ue(v)/se(v), RBSP trailing bits
  - SPS/PPS/slice-header parse (baseline subset: frame_mbs_only,
    CAVLC, one slice group; frame cropping honored)
  - the macroblock walk for I slices; I_PCM macroblocks END TO END
    (alignment + raw 4:2:0 samples — zero entropy tables), which the
    engine encoder emits exclusively, so encode->decode round-trips
    are EXACT in YUV and pin the whole container path
  - Intra_16x16 luma prediction (V/H/DC/Plane), Intra_4x4 prediction
    (all 9 modes, r9 — formula-level, with the min(A,B) mode
    prediction and block-level top-right availability), 8x8 chroma
    prediction (DC/H/V/Plane), the 4x4 integer inverse transform, the
    4x4 luma-DC and 2x2 chroma-DC inverse Hadamards, CAVLC LEVEL
    decoding AND encoding (prefix/suffix evolution both directions),
    the nC >= 8 fixed-length coeff_token branch, and the 4x4 zig-zag
    order — all formula-derivable
  - a QUANTIZED engine-encoder operating point (r9,
    ``encode_quantized_yuv``): Intra_16x16 (or Intra_4x4) at a fixed
    QP with CAVLC residuals. In ``dense=True`` mode every coded luma
    block carries all its coefficients, so coeff_token rides the
    nC>=8 fixed-length branch (total_zeros/run_before never occur)
    and — with the first macroblock I_PCM to seed the nC context —
    the whole stream decodes with the CAVLC seam EMPTY. The encoder
    replays the decoder's integer reconstruction, so
    encode -> decode is BIT-EXACT against the encoder's own recon,
    and the quantizer derives its step from the published dequant
    formulas through the independently-derived transform-gain
    identity itrans(ftrans(X) ∘ u_i u_j) == 64 X with
    u = [2, 8/5, 2, 8/5] (property-pinned in tests), which makes the
    dequant V matrix and the DC paths SELF-CHECKING: a one-sided
    scaling bug breaks the source-error bound even when the round
    trip stays consistent.
  - the in-loop DEBLOCKING filter (r9): edge walk, boundary-strength
    derivation for I slices (4 on MB edges, 3 internal), the sample
    conditions and strong/normal filtering equations, qP averaging
    with the I_PCM-means-0 rule, and the per-slice idc/offset
    plumbing — all formula-level. ``decode_iframe_yuv(deblock=...)``:
    ``"auto"`` (default) filters when the stream signals it AND the
    tC0 seam is loaded, else returns the pre-deblock reconstruction
    (the pre-r9 behavior; fine for hashing/thumbnails). The engine
    encoders' default operating points signal
    disable_deblocking_filter_idc=1 so their round-trips are
    conformant-exact either way; ``encode_quantized_yuv(...,
    deblock=True)`` signals the filter ON and replays the decoder's
    deblock on its recon, keeping encode -> decode bit-exact and
    self-checking the filter structure.

What is a DATA SEAM (Annex-B policy — large tabulated spec constants
are never reproduced from memory):
  - the CAVLC codebooks: coeff_token (nC classes 0/2/4 and chroma
    DC), total_zeros (15 + 3 contexts), run_before (7 contexts).
    ``load_cavlc_tables(path_or_dict)`` injects them from a validated
    JSON file; ``$SPARK_GRAFT_CAVLC_TABLES`` auto-loads on first use
    — the same loader pattern as mpeg_layer3.load_huffman_tables and
    ccitt.load_t4_tables. Until injected, any non-I_PCM macroblock
    with coded residual raises the named seam error.
  - the Intra_4x4 coded_block_pattern me(v) mapping (spec Table 9-4,
    48 tabulated intra entries) — seam key ``cbp_intra`` in the same
    JSON; engine Intra_4x4 round trips inject any bijection (tests
    use the identity map), foreign streams need the real table.
  - the deblocking tC0 clipping table (spec Table 8-17, bS 1..3 x 52,
    no published closed form) — seam key ``deblock_tc0``; engine
    deblocked round trips inject any values (the encoder replays the
    decoder), foreign-stream fidelity needs the real table. The
    alpha/beta thresholds DEFAULT to the published List et al. (2003)
    closed forms (conformance caveat: the formula matching Table 8-16
    is to the author's best knowledge) and can be overridden exactly
    via seam key ``deblock_alpha_beta``.
  - small conformance-caveat tables shipped like the SFB grids
    (engine data to the author's best knowledge; only FOREIGN-stream
    fidelity depends on them, the I_PCM round-trip does not): the
    dequant norm matrix V (6x3) and the chroma-QP mapping tail. The
    r9 quantized operating point pins V's INTERNAL consistency (see
    above); conformance against foreign encoders still rests on the
    caveat.

  - P slices (r9): P_Skip, P_L0_16x16 / 16x8 / 8x16 partitions,
    P_8x8 / P_8x8ref0 with all four sub-partition shapes
    (8x8/8x4/4x8/4x4),
    median + directional MV prediction (shared verbatim by encoder
    and decoder), quarter-pel luma MC (6-tap half-pel + quarter
    averaging per the spec equations) and eighth-pel bilinear chroma
    MC, te(v) multi-reference indices over a sliding-window DPB,
    mb_skip_run, and inter boundary strengths (2/1/0) for the
    deblocking filter — all formula-level. The inter
    coded_block_pattern me(v) column is seam key ``cbp_inter``
    (engine round trips accept any bijection, like ``cbp_intra``).
    ENGINE OPERATING POINTS: ``encode_video_yuv`` codes IPPP with a
    per-frame GLOBAL motion vector and dense residuals (replaying
    the decoder's MC/filter, so decode is bit-exact against the
    returned recons — fractional MVs self-check the interpolator),
    and ``encode_video_skip`` emits an IDR + all-skip P pictures,
    the TABLE-FREE multi-frame path.

What is NEW in r10 (second block) — B slices and explicit weighted
prediction: POC derivation (8.2.1 type-0 lsb/msb wrap), POC-ordered
RefPicList0/1 construction with the identical-list swap rule, all
Table 7-14 B macroblock shapes (L0/L1/Bi x 16x16/16x8/8x16, B_8x8
sub-partitions incl. B_Direct_8x8), B_Skip / B_Direct_16x16 via
SPATIAL direct (MinPositive refs, per-list median MVps, colZeroFlag
against RefPicList1[0]'s stored motion field, direct_8x8_inference
corners), bi-prediction averaging, and the explicit weighted-sample
formulas with pred_weight_table parsing for P (weighted_pred) and B
(weighted_bipred_idc=1). Engine operating points:
``encode_video_b_yuv`` (I_PCM + PCM-P + dense-residual B cycling
L0/L1/Bi at per-list global MVs, optionally weighted — decode is
bit-exact against the replayed recons) and ``encode_video_b_skip``
(the TABLE-FREE all-B_Skip clip).

NEW in r11 — the two remaining B-prediction modes, both pure
POC-distance formulas (no new tables): TEMPORAL direct
(8.4.1.2.3 — per-block colocated-MV scaling by DistScaleFactor,
with the colocated reference mapped into the current RefPicList0 by
POC via a per-picture reference-POC grid stored alongside the motion
field), and IMPLICIT weighted bi-prediction (weighted_bipred_idc=2,
8.4.2.3.1 — per-(ref0, ref1) POC-distance weights at logWD 5, zero
offsets, uni partitions unweighted).

NOT in scope (raise namefully): Intra_8x8 prediction, ref-list
modification / adaptive marking, interlace, high-profile
transform/scaling-list tools (8x8 transform, QP scaling matrices).
CABAC: refused — a PPS with entropy_coding_mode_flag = 1 parses, and
decoding any of its pictures raises NotImplementedError.
"""

from __future__ import annotations

import warnings

__all__ = [
    "nal_units",
    "parse_sps",
    "decode_iframe_yuv",
    "decode_iframe",
    "decode_video_yuv",
    "decode_video",
    "encode_video_yuv",
    "encode_video",
    "encode_video_skip",
    "encode_video_b_yuv",
    "encode_video_b_skip",
    "encode_ipcm_yuv",
    "encode_ipcm",
    "encode_quantized_yuv",
    "encode_quantized",
    "load_cavlc_tables",
]

_TABLES_ENV = "SPARK_GRAFT_CAVLC_TABLES"
_env_load_done = False

#: CAVLC codebooks (Annex-B seam). coeff_token maps an nC class key
#: ("0", "2", "4" for 0<=nC<2, 2<=nC<4, 4<=nC<8; "cdc" for chroma DC)
#: to {(length, code): (total_coeff, trailing_ones)}. total_zeros maps
#: a totalCoeff context (1..15, or "cdc1".."cdc3") to {(length, code):
#: total_zeros}. run_before maps min(zerosLeft, 7) in 1..7 to
#: {(length, code): run}.
CAVLC: dict[str, dict] = {"coeff_token": {}, "total_zeros": {},
                          "run_before": {}, "cbp_intra": {},
                          "deblock": {}, "scaling_default": {}}
#: NB: the inter coded_block_pattern me(v) column (spec Table 9-4)
#: loads under CAVLC["cbp_intra"]["inter"] via loader key "cbp_inter"

#: dequant norm matrix V[qP % 6][class] — classes: 0 for positions
#: (0,0),(0,2),(2,0),(2,2); 1 for (1,1),(1,3),(3,1),(3,3); 2 others.
#: Conformance-caveat engine data (see module docstring): derived from
#: the integer-transform norms, published to the author's best
#: knowledge; I_PCM round-trips do not depend on it.
_V = [
    [10, 16, 13], [11, 18, 14], [13, 20, 16],
    [14, 23, 18], [16, 25, 20], [18, 29, 23],
]

#: chroma qPc mapping for qPi >= 30 (same caveat class as _V)
_QPC_TAIL = [29, 30, 31, 32, 32, 33, 34, 34, 35, 35,
             36, 36, 37, 37, 37, 38, 38, 38, 39, 39, 39, 39]

#: 4x4 zig-zag scan order as (row, col)
_ZIG4 = [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
         (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3), (3, 2), (3, 3)]

def _zigzag_order(n: int):
    """Canonical diagonal zig-zag over an n x n grid as (row, col):
    anti-diagonals by sum, odd sums walked row-ascending, even sums
    row-descending — reproduces Table 8-8 exactly (the 4x4 order is
    asserted against the hand-written _ZIG4 at import)."""
    return sorted(((i, j) for i in range(n) for j in range(n)),
                  key=lambda p: (p[0] + p[1],
                                 p[0] if (p[0] + p[1]) % 2 else -p[0]))


#: 8x8 zig-zag scan (Table 8-8) — the canonical diagonal order
_ZIG8 = _zigzag_order(8)
assert _zigzag_order(4) == _ZIG4

#: luma 4x4 block index -> (x, y) pixel offset within the MB
#: (8x8 quadrants raster, 2x2 of 4x4 raster within each quadrant)
_BLK4_XY = [
    (0, 0), (4, 0), (0, 4), (4, 4), (8, 0), (12, 0), (8, 4), (12, 4),
    (0, 8), (4, 8), (0, 12), (4, 12), (8, 8), (12, 8), (8, 12), (12, 12),
]

#: inverse map: (block-in-MB col, row) in 4x4 units -> coding index
_BLK4_IDX = {(x // 4, y // 4): i for i, (x, y) in enumerate(_BLK4_XY)}

#: transform-gain vector for the quantized encoder: the EXACT identity
#: itrans4(ftrans4(X) ∘ (u_i u_j)) == 64 X holds with
#: u = [2, 8/5, 2, 8/5] (derived from the core-transform row norms;
#: property-pinned by test_transform_gain_identity). Kept as
#: numerator/denominator pairs so the quantizer works in rationals.
_UGAIN = [(2, 1), (8, 5), (2, 1), (8, 5)]


def _clip8(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


# --------------------------------------------------------------- seam

def _check_prefix_free(codes) -> None:
    by_len: dict[int, set[int]] = {}
    for hlen, code in codes:
        by_len.setdefault(hlen, set()).add(code)
    for hlen, code in codes:
        for l2, cs in by_len.items():
            if l2 < hlen and (code >> (hlen - l2)) in cs:
                raise ValueError(
                    f"CAVLC codebook not prefix-free: ({hlen}, {code:#b})"
                )


def load_cavlc_tables(source) -> int:
    """Inject the CAVLC codebooks (Annex-B seam) from a dict or a JSON
    file shaped::

        {"coeff_token": {"0"|"2"|"4"|"cdc":
                             [[hlen, code, total_coeff, t1s], ...]},
         "total_zeros": {"1".."15"|"cdc1".."cdc3":
                             [[hlen, code, tz], ...]},
         "run_before":  {"1".."7": [[hlen, code, run], ...]},
         "cbp_intra":   [[code_num, cbp], ...],      # spec Table 9-4
         "cbp_inter":   [[code_num, cbp], ...],      # Table 9-4 inter
         "deblock_tc0": [[52 vals] x 3],             # tC0 by bS 1..3
         "deblock_alpha_beta": {"alpha": [52 vals],  # Table 8-16
                                "beta":  [52 vals]}} # overrides

    Validates widths/ranges and prefix-freeness per codebook (and
    bijectivity for the cbp map); returns the number of codebooks
    loaded. ``$SPARK_GRAFT_CAVLC_TABLES`` is the no-code-change route
    (auto-loaded on the first residual that needs a table)."""
    import json

    if isinstance(source, (str, bytes)):
        with open(source) as fh:
            source = json.load(fh)
    n = 0
    for key, spec in (source.get("coeff_token") or {}).items():
        if key not in ("0", "2", "4", "cdc"):
            raise ValueError(f"coeff_token class {key!r} unknown")
        book = {}
        for hlen, code, tc, t1 in spec:
            if not (1 <= hlen <= 16 and 0 <= code < (1 << hlen)
                    and 0 <= tc <= 16 and 0 <= t1 <= min(3, tc)):
                raise ValueError(f"coeff_token[{key}]: bad entry")
            book[(hlen, code)] = (tc, t1)
        _check_prefix_free(book)
        CAVLC["coeff_token"][key] = book
        n += 1
    for key, spec in (source.get("total_zeros") or {}).items():
        book = {}
        for hlen, code, tz in spec:
            if not (1 <= hlen <= 9 and 0 <= code < (1 << hlen) and tz >= 0):
                raise ValueError(f"total_zeros[{key}]: bad entry")
            book[(hlen, code)] = tz
        _check_prefix_free(book)
        CAVLC["total_zeros"][key] = book
        n += 1
    for key, spec in (source.get("run_before") or {}).items():
        book = {}
        for hlen, code, run in spec:
            if not (1 <= hlen <= 11 and 0 <= code < (1 << hlen) and run >= 0):
                raise ValueError(f"run_before[{key}]: bad entry")
            book[(hlen, code)] = run
        _check_prefix_free(book)
        CAVLC["run_before"][key] = book
        n += 1
    cbp_spec = source.get("cbp_intra")
    if cbp_spec:
        book = {}
        for code_num, cbp in cbp_spec:
            if not (0 <= code_num <= 47 and 0 <= cbp <= 47):
                raise ValueError("cbp_intra: bad entry")
            book[code_num] = cbp
        if len(book) != len(set(book.values())):
            raise ValueError("cbp_intra: mapping must be a bijection")
        CAVLC["cbp_intra"]["intra"] = book
        n += 1
    cbp_i_spec = source.get("cbp_inter")
    if cbp_i_spec:
        book = {}
        for code_num, cbp in cbp_i_spec:
            if not (0 <= code_num <= 47 and 0 <= cbp <= 47):
                raise ValueError("cbp_inter: bad entry")
            book[code_num] = cbp
        if len(book) != len(set(book.values())):
            raise ValueError("cbp_inter: mapping must be a bijection")
        CAVLC["cbp_intra"]["inter"] = book
        n += 1
    tc0_spec = source.get("deblock_tc0")
    if tc0_spec:
        if (len(tc0_spec) != 3
                or any(len(row) != 52 for row in tc0_spec)
                or any(not (0 <= int(v) <= 255)
                       for row in tc0_spec for v in row)):
            raise ValueError(
                "deblock_tc0 must be 3 rows (bS 1..3) of 52 values in "
                "0..255"
            )
        CAVLC["deblock"]["tc0"] = [[int(v) for v in row]
                                   for row in tc0_spec]
        n += 1
    sd_spec = source.get("scaling_default")
    if sd_spec:
        sizes = {"4x4_intra": 16, "4x4_inter": 16,
                 "8x8_intra": 64, "8x8_inter": 64}
        for key, vals in sd_spec.items():
            want = sizes.get(key)
            if want is None:
                raise ValueError(
                    f"scaling_default key {key!r} unknown — expected "
                    "one of 4x4_intra/4x4_inter/8x8_intra/8x8_inter")
            if (len(vals) != want
                    or any(not (1 <= int(v) <= 255) for v in vals)):
                raise ValueError(
                    f"scaling_default[{key!r}] must be {want} values "
                    "in 1..255 (Table 7-3/7-4, zig-zag scan order)")
            CAVLC["scaling_default"][key] = [int(v) for v in vals]
            n += 1
    ab_spec = source.get("deblock_alpha_beta")
    if ab_spec:
        for name in ("alpha", "beta"):
            row = ab_spec.get(name)
            if (not row or len(row) != 52
                    or any(not (0 <= int(v) <= 255) for v in row)
                    or any(int(row[i]) > int(row[i + 1])
                           for i in range(51))):
                raise ValueError(
                    f"deblock_alpha_beta[{name!r}] must be 52 "
                    "non-decreasing values in 0..255"
                )
            CAVLC["deblock"][name] = [int(v) for v in row]
        n += 1
    return n


def _try_env_tables() -> bool:
    global _env_load_done
    if _env_load_done:
        return False
    import os

    path = os.environ.get(_TABLES_ENV)
    if not (path and os.path.exists(path)):
        # do NOT latch: an env var set later in a long-lived process
        # (e.g. a Spark executor configured after first decode miss)
        # must still be honored on the next attempt
        return False
    load_cavlc_tables(path)
    _env_load_done = True
    return True


def _need(book_family: str, key: str) -> dict:
    book = CAVLC[book_family].get(key)
    if book is None and _try_env_tables():
        book = CAVLC[book_family].get(key)
    if book is None:
        raise NotImplementedError(
            f"CAVLC {book_family}[{key}] is Annex-B data — "
            "load_cavlc_tables(path) or $SPARK_GRAFT_CAVLC_TABLES "
            "injects it (module docstring seam note)"
        )
    return book


# -------------------------------------------------------------- bit io

class _R:
    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0

    def bits_left(self) -> int:
        return 8 * len(self.d) - self.pos

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            if self.pos >= 8 * len(self.d):
                raise ValueError("H.264 RBSP exhausted")
            v = (v << 1) | ((self.d[self.pos >> 3] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("Exp-Golomb run too long — corrupt stream")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def byte_align(self) -> None:
        while self.pos & 7:
            if self.u(1):
                raise ValueError("pcm alignment bits must be zero")

    def vlc(self, book: dict, what: str, max_len: int = 16):
        code, hlen = 0, 0
        while hlen < max_len:
            code = (code << 1) | self.u(1)
            hlen += 1
            hit = book.get((hlen, code))
            if hit is not None:
                return hit
        raise ValueError(f"no {what} code within {max_len} bits")


class _W:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def u(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.n += n
        while self.n >= 8:
            self.buf.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8

    def ue(self, v: int) -> None:
        bits = (v + 1).bit_length()
        self.u(0, bits - 1)
        self.u(v + 1, bits)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def byte_align_zero(self) -> None:
        if self.n:
            self.u(0, 8 - self.n)

    def trailing(self) -> bytes:
        self.u(1, 1)
        self.byte_align_zero()
        return bytes(self.buf)


# ----------------------------------------------------------------- NAL

def _unescape(b: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(b):
        if i + 2 < len(b) and b[i] == 0 and b[i + 1] == 0 and b[i + 2] == 3:
            out += b"\x00\x00"
            i += 3
        else:
            out.append(b[i])
            i += 1
    return bytes(out)


def _escape(b: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for byte in b:
        if zeros >= 2 and byte <= 3:
            out.append(3)
            zeros = 0
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(out)


def nal_units(data: bytes) -> list[tuple[int, int, bytes]]:
    """Annex-B byte stream -> [(nal_ref_idc, nal_type, rbsp)]."""
    starts = []
    i = 0
    while i + 3 <= len(data):
        if data[i] == 0 and data[i + 1] == 0:
            if data[i + 2] == 1:
                starts.append(i + 3)
                i += 3
                continue
            if i + 4 <= len(data) and data[i + 2] == 0 and data[i + 3] == 1:
                starts.append(i + 4)
                i += 4
                continue
        i += 1
    out = []
    for k, s in enumerate(starts):
        end = len(data)
        if k + 1 < len(starts):
            end = starts[k + 1] - 3
            if end >= 1 and data[end - 1] == 0:  # 4-byte start code
                end -= 1
        unit = data[s:end]
        if not unit:
            continue
        hdr = unit[0]
        if hdr & 0x80:
            raise ValueError("forbidden_zero_bit set — not H.264 Annex B")
        out.append(((hdr >> 5) & 3, hdr & 0x1F, _unescape(unit[1:])))
    return out


# ------------------------------------------------------- headers parse

def _parse_scaling_list(r: _R, size: int):
    """scaling_list() (7.3.2.1.1.1): returns (values-in-scan-order,
    use_default_flag). ``None`` values never occur — a zero nextScale
    at j==0 flags the default matrix; later zeros freeze lastScale."""
    last, nxt = 8, 8
    vals = []
    use_default = False
    for j in range(size):
        if nxt != 0:
            delta = r.se()
            nxt = (last + delta + 256) % 256
            if j == 0 and nxt == 0:
                use_default = True
        vals.append(last if nxt == 0 else nxt)
        last = vals[-1]
    return vals, use_default


def _scan_to_raster(vals, n: int):
    """Scaling-list values arrive in zig-zag scan order; weightScale
    is indexed (i, j) raster."""
    zig = _ZIG4 if n == 4 else _ZIG8
    out = [0] * (n * n)
    for k, (i, j) in enumerate(zig):
        out[n * i + j] = vals[k]
    return out


def _default_scaling(idx: int):
    """Default scaling matrix for list index ``idx`` (Tables 7-3 /
    7-4) — tabulated spec data behind the CAVLC seam family
    (``load_cavlc_tables({"scaling_default": {...}})``)."""
    fam = CAVLC.get("scaling_default") or {}
    key = ("4x4_intra" if idx in (0, 1, 2) else
           "4x4_inter" if idx in (3, 4, 5) else
           "8x8_intra" if idx == 6 else "8x8_inter")
    vals = fam.get(key)
    if vals is None:
        _try_env_tables()
        vals = (CAVLC.get("scaling_default") or {}).get(key)
    if vals is None:
        raise NotImplementedError(
            f"default scaling matrix {key} (Table 7-3/7-4) is "
            "tabulated spec data — inject load_cavlc_tables("
            "{'scaling_default': {'" + key + "': [...]}}) or "
            "$SPARK_GRAFT_CAVLC_TABLES"
        )
    return list(vals)


def _resolve_scaling_lists(present: list, base=None):
    """Fall-back rules A/B (7.4.2.1.1/7.4.2.2): ``present[i]`` is
    None (absent), "default", or scan-order values; ``base`` is the
    SPS-resolved 8-list set for rule B (PPS level), else rule A.
    Returns 8 scan-order lists (6 x 4x4 + 2 x 8x8)."""
    out = []
    for i, ent in enumerate(present):
        size = 16 if i < 6 else 64
        if ent == "default":
            out.append(_default_scaling(i))
        elif ent is not None:
            out.append(list(ent))
        elif i in (0, 3, 6, 7):
            out.append(list(base[i]) if base is not None
                       else _default_scaling(i))
        else:
            out.append(list(out[i - 1]))
        if len(out[-1]) != size:
            raise ValueError(f"scaling list {i}: wrong length")
    return out


def parse_sps(rbsp: bytes) -> dict:
    r = _R(rbsp)
    profile = r.u(8)
    r.u(8)  # constraint flags + reserved
    level = r.u(8)
    sps_id = r.ue()
    scaling4 = scaling8 = scaling_scan = None
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138,
                   139, 134, 135):
        chroma_format = r.ue()
        if chroma_format != 1:
            raise NotImplementedError(
                f"chroma_format_idc {chroma_format} — 4:2:0 only")
        bd_luma = r.ue()
        bd_chroma = r.ue()
        if bd_luma or bd_chroma:
            raise NotImplementedError(
                "bit depths beyond 8 (high-10/high-422 SPS)")
        if r.u(1):
            raise NotImplementedError(
                "qpprime_y_zero_transform_bypass (lossless High 4:4:4)")
        if r.u(1):  # seq_scaling_matrix_present_flag
            present = []
            for i in range(8):
                if r.u(1):
                    vals, dflt = _parse_scaling_list(
                        r, 16 if i < 6 else 64)
                    present.append("default" if dflt else vals)
                else:
                    present.append(None)
            lists = _resolve_scaling_lists(present)
            scaling4 = [_scan_to_raster(v, 4) for v in lists[:6]]
            scaling8 = [_scan_to_raster(v, 8) for v in lists[6:]]
            scaling_scan = lists            # rule-B base (scan order)
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    poc_lsb_bits = 0
    if poc_type == 0:
        poc_lsb_bits = r.ue() + 4
    elif poc_type == 1:
        r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    max_ref = r.ue()
    r.u(1)  # gaps_in_frame_num_value_allowed
    w_mbs = r.ue() + 1
    h_map = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        raise NotImplementedError("interlace (frame_mbs_only_flag=0)")
    direct_8x8 = r.u(1)
    crop = (0, 0, 0, 0)
    if r.u(1):
        crop = (r.ue(), r.ue(), r.ue(), r.ue())
    return {
        "profile": profile, "level": level, "sps_id": sps_id,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type, "poc_lsb_bits": poc_lsb_bits,
        "max_ref": max(1, max_ref), "direct_8x8": direct_8x8,
        "width_mbs": w_mbs, "height_mbs": h_map,
        "crop": crop,
        "width": 16 * w_mbs - 2 * (crop[0] + crop[1]),
        "height": 16 * h_map - 2 * (crop[2] + crop[3]),
        # High-profile scaling matrices: raster weightScale lists
        # (6 x 16 / 2 x 64) or None == Flat_16; scan-order copy kept
        # as the PPS fall-back-rule-B base
        "scaling4": scaling4, "scaling8": scaling8,
        "scaling_scan": scaling_scan,
    }


def parse_pps(rbsp: bytes, sps: dict | None = None) -> dict:
    """``sps`` supplies the rule-B scaling fall-back base and the
    raster matrices for streams whose PPS carries no pic-level lists
    (High profile); None keeps the pre-High behavior."""
    r = _R(rbsp)
    pps_id = r.ue()
    sps_id = r.ue()
    entropy = r.u(1)   # 1 = CABAC (refused at decode), 0 = CAVLC
    bottom_field = r.u(1)
    if r.ue() != 0:
        raise NotImplementedError("slice groups (FMO)")
    num_ref_l0 = r.ue() + 1
    num_ref_l1 = r.ue() + 1
    weighted_pred = r.u(1)
    weighted_bipred = r.u(2)
    init_qp = 26 + r.se()
    r.se()  # pic_init_qs
    chroma_qp_off = r.se()
    deblock_ctl = r.u(1)
    r.u(1)  # constrained_intra_pred
    r.u(1)  # redundant_pic_cnt_present
    # High-profile PPS tail, present iff more_rbsp_data() before the
    # rbsp stop bit
    transform_8x8 = 0
    chroma_qp_off2 = chroma_qp_off
    scaling4 = (sps or {}).get("scaling4")
    scaling8 = (sps or {}).get("scaling8")
    stop = _rbsp_stop(rbsp)
    if r.pos < stop:
        transform_8x8 = r.u(1)
        if r.u(1):  # pic_scaling_matrix_present_flag
            n_lists = 6 + (2 if transform_8x8 else 0)
            present = []
            for i in range(n_lists):
                if r.u(1):
                    vals, dflt = _parse_scaling_list(
                        r, 16 if i < 6 else 64)
                    present.append("default" if dflt else vals)
                else:
                    present.append(None)
            base = (sps or {}).get("scaling_scan")
            # with transform_8x8 off the 8x8 lists are absent AND
            # unused — resolving them would demand default matrices
            # the stream never references
            lists = _resolve_scaling_lists(present, base=base)
            scaling4 = [_scan_to_raster(v, 4) for v in lists[:6]]
            if transform_8x8:
                scaling8 = [_scan_to_raster(v, 8) for v in lists[6:]]
        chroma_qp_off2 = r.se()
    return {
        "pps_id": pps_id, "sps_id": sps_id, "entropy": entropy,
        "num_ref_l0": num_ref_l0, "num_ref_l1": num_ref_l1,
        "weighted_pred": weighted_pred,
        "weighted_bipred": weighted_bipred,
        "bottom_field": bottom_field, "init_qp": init_qp,
        "chroma_qp_off": chroma_qp_off, "deblock_ctl": deblock_ctl,
        "transform_8x8": transform_8x8,
        "chroma_qp_off2": chroma_qp_off2,
        "scaling4": scaling4, "scaling8": scaling8,
    }


# ------------------------------------------------------------ decoding

def _qpc(qp: int) -> int:
    qpi = max(0, min(51, qp))
    return qpi if qpi < 30 else _QPC_TAIL[qpi - 30]


def _v_class(i: int, j: int) -> int:
    if (i % 2) == 0 and (j % 2) == 0:
        return 0
    if (i % 2) == 1 and (j % 2) == 1:
        return 1
    return 2


def _itrans4(d: list[list[int]]) -> list[list[int]]:
    """4x4 inverse core transform (pre-rounding): rows then columns of
    the e/f butterflies; caller applies (x + 32) >> 6."""
    e = [[0] * 4 for _ in range(4)]
    for i in range(4):
        a0 = d[i][0] + d[i][2]
        a1 = d[i][0] - d[i][2]
        a2 = (d[i][1] >> 1) - d[i][3]
        a3 = d[i][1] + (d[i][3] >> 1)
        e[i][0] = a0 + a3
        e[i][1] = a1 + a2
        e[i][2] = a1 - a2
        e[i][3] = a0 - a3
    out = [[0] * 4 for _ in range(4)]
    for j in range(4):
        a0 = e[0][j] + e[2][j]
        a1 = e[0][j] - e[2][j]
        a2 = (e[1][j] >> 1) - e[3][j]
        a3 = e[1][j] + (e[3][j] >> 1)
        out[0][j] = a0 + a3
        out[1][j] = a1 + a2
        out[2][j] = a1 - a2
        out[3][j] = a0 - a3
    return out


def _hadamard4(d: list[list[int]]) -> list[list[int]]:
    e = [[0] * 4 for _ in range(4)]
    for i in range(4):
        a0 = d[i][0] + d[i][2]
        a1 = d[i][0] - d[i][2]
        a2 = d[i][1] - d[i][3]
        a3 = d[i][1] + d[i][3]
        e[i] = [a0 + a3, a1 + a2, a1 - a2, a0 - a3]
    out = [[0] * 4 for _ in range(4)]
    for j in range(4):
        a0 = e[0][j] + e[2][j]
        a1 = e[0][j] - e[2][j]
        a2 = e[1][j] - e[3][j]
        a3 = e[1][j] + e[3][j]
        out[0][j] = a0 + a3
        out[1][j] = a1 + a2
        out[2][j] = a1 - a2
        out[3][j] = a0 - a3
    return out


def _ftrans4(x: list[list[int]]) -> list[list[int]]:
    """4x4 forward core transform W = Cf · X · Cf^T with
    Cf = [[1,1,1,1],[2,1,-1,-2],[1,-1,-1,1],[1,-2,2,-1]] — the exact
    integer inverse pair of :func:`_itrans4` through the gain identity
    itrans4(W ∘ u_i u_j) == 64 X (see _UGAIN)."""
    e = [[0] * 4 for _ in range(4)]
    for i in range(4):  # rows: e = X · Cf^T
        a0 = x[i][0] + x[i][3]
        a1 = x[i][1] + x[i][2]
        a2 = x[i][1] - x[i][2]
        a3 = x[i][0] - x[i][3]
        e[i] = [a0 + a1, 2 * a3 + a2, a0 - a1, a3 - 2 * a2]
    out = [[0] * 4 for _ in range(4)]
    for j in range(4):  # columns: W = Cf · e
        a0 = e[0][j] + e[3][j]
        a1 = e[1][j] + e[2][j]
        a2 = e[1][j] - e[2][j]
        a3 = e[0][j] - e[3][j]
        out[0][j] = a0 + a1
        out[1][j] = 2 * a3 + a2
        out[2][j] = a0 - a1
        out[3][j] = a3 - 2 * a2
    return out


# ---------------------------------------------------- dequant helpers
# single-source dequant formulas, used by BOTH the decoder and the
# quantized encoder's reconstruction replay (the encoder's QUANTIZER
# derives its step independently through _UGAIN, so a one-sided
# translation bug here breaks the encoder's source-error bound test
# even though the round trip stays self-consistent)

def _dequant_ac(c: int, qmod: int, qdiv: int, i: int, j: int) -> int:
    """Plain 4x4 coefficient dequant: d = c * V << (qP/6). Exact for
    all qP: the spec's low-qP rounding form collapses to this once the
    16x weightScale is folded out of bare-normAdjust V."""
    return (c * _V[qmod][_v_class(i, j)]) << qdiv


def _dequant_luma_dc(f: int, qp: int) -> int:
    """Intra_16x16 luma-DC dequant of one Hadamard-domain value (spec
    8.5.10 with the 16x folded: breakpoint 36->12, shift -6->-2)."""
    qdiv, qmod = qp // 6, qp % 6
    ls = _V[qmod][0]
    if qp >= 12:
        return (f * ls) << (qdiv - 2)
    return (f * ls + (1 << (1 - qdiv))) >> (2 - qdiv)


def _dequant_chroma_dc(f: int, qc: int) -> int:
    """2x2 chroma-DC dequant (spec 8.5.11 with the 16x folded:
    >>5 -> >>1)."""
    cdiv, cmod = qc // 6, qc % 6
    return ((f * _V[cmod][0]) << cdiv) >> 1


# --------------------------------------------- High profile: 8x8 core

#: 8x8 dequant norm matrix V8[qP % 6][class] (the 8x8 sibling of _V,
#: same conformance-caveat class: derived from the 8x8 integer-
#: transform row norms — the mixed classes are the rounded geometric
#: means of the pure ones, property-pinned by
#: test_v8_geometric_mean_consistency)
_V8 = [
    [20, 18, 32, 19, 25, 24],
    [22, 19, 35, 21, 28, 26],
    [26, 23, 42, 24, 33, 31],
    [28, 25, 45, 26, 35, 33],
    [32, 28, 51, 29, 40, 38],
    [36, 32, 58, 33, 45, 43],
]

#: the published 8x8 integer-transform basis (rows x8): the inverse
#: 1D butterfly's exact (floor-free) matrix is C8^T / 8 —
#: test_itrans8_matches_basis_matrix probes the butterfly with
#: shift-exact inputs against this
_C8 = [
    [8, 8, 8, 8, 8, 8, 8, 8],
    [12, 10, 6, 3, -3, -6, -10, -12],
    [8, 4, -4, -8, -8, -4, 4, 8],
    [10, -3, -12, -6, 6, 12, 3, -10],
    [8, -8, -8, 8, 8, -8, -8, 8],
    [6, -12, 3, 10, -10, -3, 12, -6],
    [4, -8, 8, -4, -4, 8, -8, 4],
    [3, -6, 10, -12, 12, -10, 6, -3],
]


def _v8_class(i: int, j: int) -> int:
    im, jm = i % 4, j % 4
    if im == 0 and jm == 0:
        return 0
    if i % 2 == 1 and j % 2 == 1:
        return 1
    if im == 2 and jm == 2:
        return 2
    if (im == 0 and j % 2 == 1) or (i % 2 == 1 and jm == 0):
        return 3
    if (im == 0 and jm == 2) or (im == 2 and jm == 0):
        return 4
    return 5


def _itrans8_1d(d):
    """One 1D pass of the 8x8 inverse transform butterfly
    (8.5.12.2)."""
    a0 = d[0] + d[4]
    a4 = d[0] - d[4]
    a2 = (d[2] >> 1) - d[6]
    a6 = d[2] + (d[6] >> 1)
    b0 = a0 + a6
    b2 = a4 + a2
    b4 = a4 - a2
    b6 = a0 - a6
    a1 = -d[3] + d[5] - d[7] - (d[7] >> 1)
    a3 = d[1] + d[7] - d[3] - (d[3] >> 1)
    a5 = -d[1] + d[7] + d[5] + (d[5] >> 1)
    a7 = d[3] + d[5] + d[1] + (d[1] >> 1)
    b1 = a1 + (a7 >> 2)
    b7 = a7 - (a1 >> 2)
    b3 = a3 + (a5 >> 2)
    b5 = (a3 >> 2) - a5
    return [b0 + b7, b2 + b5, b4 + b3, b6 + b1,
            b6 - b1, b4 - b3, b2 - b5, b0 - b7]


def _itrans8(d: list[list[int]]) -> list[list[int]]:
    """8x8 inverse core transform (pre-rounding, rows then columns);
    caller applies (x + 32) >> 6 like the 4x4 path."""
    e = [_itrans8_1d(row) for row in d]
    cols = [_itrans8_1d([e[i][j] for i in range(8)])
            for j in range(8)]
    return [[cols[j][i] for j in range(8)] for i in range(8)]


def _ftrans8_1d(x):
    """One 1D pass of the 8x8 forward transform butterfly (the
    encoder side of the published pair)."""
    a0 = x[0] + x[7]
    a1 = x[1] + x[6]
    a2 = x[2] + x[5]
    a3 = x[3] + x[4]
    a4 = x[0] - x[7]
    a5 = x[1] - x[6]
    a6 = x[2] - x[5]
    a7 = x[3] - x[4]
    b0 = a0 + a3
    b1 = a1 + a2
    b2 = a0 - a3
    b3 = a1 - a2
    b4 = a5 + a6 + (a4 + (a4 >> 1))
    b5 = a4 - a7 - (a6 + (a6 >> 1))
    b6 = a4 + a7 - (a5 + (a5 >> 1))
    b7 = a5 - a6 + (a7 + (a7 >> 1))
    return [b0 + b1, b4 + (b7 >> 2), b2 + (b3 >> 1),
            b5 + (b6 >> 2), b0 - b1, b6 - (b5 >> 2),
            (b2 >> 1) - b3, (b4 >> 2) - b7]


def _ftrans8(x: list[list[int]]) -> list[list[int]]:
    e = [_ftrans8_1d(row) for row in x]
    cols = [_ftrans8_1d([e[i][j] for i in range(8)])
            for j in range(8)]
    return [[cols[j][i] for j in range(8)] for i in range(8)]


#: squared norms of the _C8 rows (C8 · C8^T = diag(_D8N))
_D8N = [512, 578, 320, 578, 512, 578, 320, 578]


def _quant8(res, qp: int, dense: bool) -> list[int]:
    """Quantize one 8x8 residual block for the engine encoder: the
    exact rational inverse of the floor-free inverse-transform model
    (D_ideal = M^-1 · (64·res) · M^-T with M = C8^T/8; the C8 rows
    are orthogonal, so M^-1 = 8·diag(1/_D8N)·C8), each coefficient
    rounded to the flat-matrix dequant step 16·V8·2^(qP/6-6). The
    decoder's floor noise is bounded, so recon error stays near the
    quant step (pinned by the source-error bound test). Returns the
    64 levels in _ZIG8 scan order; ``dense`` bumps zeros to +1 so
    every interleaved CAVLC sub-block stays on the table-free
    nC >= 8 branch."""
    t1 = [[sum(_C8[i][k] * res[k][j] for k in range(8))
           for j in range(8)] for i in range(8)]
    t2 = [[sum(t1[i][k] * _C8[j][k] for k in range(8))
           for j in range(8)] for i in range(8)]
    qdiv, qmod = qp // 6, qp % 6
    out = []
    for (i, j) in _ZIG8:
        # D_ideal = 4096 * t2 / (dN_i * dN_j)  (4096 = 64 target
        # gain x the two 8s of M^-1); step = ls * 2^(qdiv-6)
        num = 4096 * 64 * t2[i][j]
        den = (_D8N[i] * _D8N[j]
               * ((16 * _V8[qmod][_v8_class(i, j)]) << qdiv))
        c = _rdiv(num, den)
        if dense and c == 0:
            c = 1
        out.append(c)
    return out


def _dq4_w(c: int, qp: int, i: int, j: int, w) -> int:
    """Weighted 4x4 coefficient dequant (8.5.12.1 general form):
    ``w`` is the raster 16-entry weightScale list. Collapses to
    _dequant_ac exactly when w is the flat 16 matrix."""
    qdiv, qmod = qp // 6, qp % 6
    ls = w[4 * i + j] * _V[qmod][_v_class(i, j)]
    if qp >= 24:
        return (c * ls) << (qdiv - 4)
    return (c * ls + (1 << (3 - qdiv))) >> (4 - qdiv)


def _dq8(c: int, qp: int, i: int, j: int, w=None) -> int:
    """8x8 coefficient dequant (8.5.12.2): LevelScale8x8 =
    weightScale8x8 * normAdjust8x8 with the 6-breakpoint rounding
    form. ``w`` raster 64-entry list; None == Flat_16."""
    qdiv, qmod = qp // 6, qp % 6
    ls = (16 if w is None else w[8 * i + j]) * _V8[qmod][_v8_class(i, j)]
    if qp >= 36:
        return (c * ls) << (qdiv - 6)
    return (c * ls + (1 << (5 - qdiv))) >> (6 - qdiv)


def _dq_luma_dc_w(f: int, qp: int, w00: int) -> int:
    """Intra_16x16 luma-DC dequant (8.5.10 general form) with the
    weightScale (0,0) entry; w00 == 16 collapses to
    _dequant_luma_dc exactly."""
    qdiv = qp // 6
    ls = w00 * _V[qp % 6][0]
    if qp >= 36:
        return (f * ls) << (qdiv - 6)
    return (f * ls + (1 << (5 - qdiv))) >> (6 - qdiv)


def _dq_chroma_dc_w(f: int, qc: int, w00: int) -> int:
    """2x2 chroma-DC dequant (8.5.11 general form)."""
    cdiv, cmod = qc // 6, qc % 6
    return ((f * w00 * _V[cmod][0]) << cdiv) >> 5


def _filter8_refs(top, left, tl):
    """Intra_8x8 reference-sample filtering (8.3.2.2.1). ``top`` is
    the 16-sample extended top row (top-right already substituted),
    ``left`` the 8-sample left column, ``tl`` the corner — each may
    be None. Returns (top', left', tl') low-pass filtered."""
    ft = fl = fc = None
    if top is not None:
        ft = [0] * 16
        if tl is not None:
            ft[0] = (tl + 2 * top[0] + top[1] + 2) >> 2
        else:
            ft[0] = (3 * top[0] + top[1] + 2) >> 2
        for x in range(1, 15):
            ft[x] = (top[x - 1] + 2 * top[x] + top[x + 1] + 2) >> 2
        ft[15] = (top[14] + 3 * top[15] + 2) >> 2
    if left is not None:
        fl = [0] * 8
        if tl is not None:
            fl[0] = (tl + 2 * left[0] + left[1] + 2) >> 2
        else:
            fl[0] = (3 * left[0] + left[1] + 2) >> 2
        for y in range(1, 7):
            fl[y] = (left[y - 1] + 2 * left[y] + left[y + 1] + 2) >> 2
        fl[7] = (left[6] + 3 * left[7] + 2) >> 2
    if tl is not None:
        if top is not None and left is not None:
            fc = (top[0] + 2 * tl + left[0] + 2) >> 2
        elif top is not None:
            fc = (3 * tl + top[0] + 2) >> 2
        elif left is not None:
            fc = (3 * tl + left[0] + 2) >> 2
        else:
            fc = tl
    return ft, fl, fc


def _pred8(mode: int, top, left, tl, topright):
    """Intra_8x8 prediction (8.3.2.2.2-.2.10, all 9 modes): raw
    neighbor samples in, reference filtering applied here. top/left:
    8-sample lists or None; topright: 8 samples above-right or None
    (substituted with top[7] x8 when top exists, per the reference
    construction); tl: corner or None."""
    if mode in (0, 3, 7) and top is None:
        raise ValueError(f"Intra_8x8 mode {mode} without top neighbor")
    if mode in (1, 8) and left is None:
        raise ValueError(f"Intra_8x8 mode {mode} without left neighbor")
    if mode in (4, 5, 6) and (top is None or left is None
                              or tl is None):
        raise ValueError(f"Intra_8x8 mode {mode} needs top+left+corner")
    t16 = None
    if top is not None:
        t16 = list(top) + (list(topright) if topright is not None
                           else [top[7]] * 8)
    t, lf, c = _filter8_refs(t16, list(left) if left is not None
                             else None, tl)
    if mode == 0:    # vertical
        return [t[:8] for _ in range(8)]
    if mode == 1:    # horizontal
        return [[lf[y]] * 8 for y in range(8)]
    if mode == 2:    # DC
        if t is not None and lf is not None:
            dc = (sum(t[:8]) + sum(lf) + 8) >> 4
        elif t is not None:
            dc = (sum(t[:8]) + 4) >> 3
        elif lf is not None:
            dc = (sum(lf) + 4) >> 3
        else:
            dc = 128
        return [[dc] * 8 for _ in range(8)]
    out = [[0] * 8 for _ in range(8)]
    if mode == 3:    # diagonal down-left
        for y in range(8):
            for x in range(8):
                if x == 7 and y == 7:
                    out[y][x] = (t[14] + 3 * t[15] + 2) >> 2
                else:
                    out[y][x] = (t[x + y] + 2 * t[x + y + 1]
                                 + t[x + y + 2] + 2) >> 2
        return out
    if mode == 4:    # diagonal down-right
        p = [c] + t[:8]      # p[k] = t[k-1], p[0] = corner
        q = [c] + lf
        for y in range(8):
            for x in range(8):
                d = x - y
                if d > 0:
                    out[y][x] = (p[d - 1] + 2 * p[d] + p[d + 1]
                                 + 2) >> 2
                elif d < 0:
                    out[y][x] = (q[-d - 1] + 2 * q[-d] + q[-d + 1]
                                 + 2) >> 2
                else:
                    out[y][x] = (t[0] + 2 * c + lf[0] + 2) >> 2
        return out
    if mode == 5:    # vertical-right
        p = [c] + t[:8]
        for y in range(8):
            for x in range(8):
                z = 2 * x - y
                m = x - (y >> 1)
                if z >= 0 and z % 2 == 0:
                    out[y][x] = (p[m] + p[m + 1] + 1) >> 1
                elif z >= 0:
                    out[y][x] = (p[m - 1] + 2 * p[m] + p[m + 1]
                                 + 2) >> 2
                elif z == -1:
                    out[y][x] = (lf[0] + 2 * c + t[0] + 2) >> 2
                else:  # z < -1 -> x == 0
                    out[y][x] = (lf[y - 2 * x - 1]
                                 + 2 * lf[y - 2 * x - 2]
                                 + ([c] + lf)[y - 2 * x - 2]
                                 + 2) >> 2
        return out
    if mode == 6:    # horizontal-down (transpose of VR)
        q = [c] + lf
        for y in range(8):
            for x in range(8):
                z = 2 * y - x
                m = y - (x >> 1)
                if z >= 0 and z % 2 == 0:
                    out[y][x] = (q[m] + q[m + 1] + 1) >> 1
                elif z >= 0:
                    out[y][x] = (q[m - 1] + 2 * q[m] + q[m + 1]
                                 + 2) >> 2
                elif z == -1:
                    out[y][x] = (t[0] + 2 * c + lf[0] + 2) >> 2
                else:  # z < -1 -> y == 0
                    out[y][x] = (t[x - 2 * y - 1]
                                 + 2 * t[x - 2 * y - 2]
                                 + ([c] + t)[x - 2 * y - 2]
                                 + 2) >> 2
        return out
    if mode == 7:    # vertical-left
        for y in range(8):
            for x in range(8):
                k = x + (y >> 1)
                if y % 2 == 0:
                    out[y][x] = (t[k] + t[k + 1] + 1) >> 1
                else:
                    out[y][x] = (t[k] + 2 * t[k + 1] + t[k + 2]
                                 + 2) >> 2
        return out
    if mode == 8:    # horizontal-up
        for y in range(8):
            for x in range(8):
                z = x + 2 * y
                k = y + (x >> 1)
                if z % 2 == 0 and z < 13:
                    out[y][x] = (lf[k] + lf[k + 1] + 1) >> 1
                elif z < 13:
                    out[y][x] = (lf[k] + 2 * lf[k + 1] + lf[k + 2]
                                 + 2) >> 2
                elif z == 13:
                    out[y][x] = (lf[6] + 3 * lf[7] + 2) >> 2
                else:
                    out[y][x] = lf[7]
        return out
    raise ValueError(f"Intra_8x8 prediction mode {mode}")


def _pred4(mode: int, top, left, tl, topright):
    """Intra_4x4 prediction (spec 8.3.1.2, all 9 modes — formula
    level). top/left: 4-sample lists or None; tl: corner sample or
    None; topright: 4 samples above-right or None (substituted with
    top[3] when top exists, per the spec's reference-sample
    construction)."""
    if mode in (0, 3, 7) and top is None:
        raise ValueError(f"Intra_4x4 mode {mode} without top neighbor")
    if mode in (1, 8) and left is None:
        raise ValueError(f"Intra_4x4 mode {mode} without left neighbor")
    if mode in (4, 5, 6) and (top is None or left is None or tl is None):
        raise ValueError(f"Intra_4x4 mode {mode} needs top+left+corner")
    if mode == 0:    # vertical
        return [list(top) for _ in range(4)]
    if mode == 1:    # horizontal
        return [[left[y]] * 4 for y in range(4)]
    if mode == 2:    # DC
        if top is not None and left is not None:
            dc = (sum(top) + sum(left) + 4) >> 3
        elif top is not None:
            dc = (sum(top) + 2) >> 2
        elif left is not None:
            dc = (sum(left) + 2) >> 2
        else:
            dc = 128
        return [[dc] * 4 for _ in range(4)]
    t8 = (list(top) + (list(topright) if topright is not None
                       else [top[3]] * 4)) if top is not None else None
    if mode == 3:    # diagonal down-left
        out = [[0] * 4 for _ in range(4)]
        for y in range(4):
            for x in range(4):
                if x == 3 and y == 3:
                    out[y][x] = (t8[6] + 3 * t8[7] + 2) >> 2
                else:
                    out[y][x] = (t8[x + y] + 2 * t8[x + y + 1]
                                 + t8[x + y + 2] + 2) >> 2
        return out
    if mode == 4:    # diagonal down-right
        p = [tl] + list(top)    # p[k] = top[k-1], p[0] = corner
        q = [tl] + list(left)
        out = [[0] * 4 for _ in range(4)]
        for y in range(4):
            for x in range(4):
                d = x - y
                if d > 0:
                    out[y][x] = (p[d - 1] + 2 * p[d] + p[d + 1] + 2) >> 2
                elif d < 0:
                    out[y][x] = (q[-d - 1] + 2 * q[-d] + q[-d + 1] + 2) >> 2
                else:
                    out[y][x] = (top[0] + 2 * tl + left[0] + 2) >> 2
        return out
    if mode == 5:    # vertical-right
        # p[i] = spec p[i-1, -1]: p[0] is the corner, p[1..4] the top row
        p = [tl] + list(top)
        out = [[0] * 4 for _ in range(4)]
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                m = x - (y >> 1)
                if z >= 0 and z % 2 == 0:
                    out[y][x] = (p[m] + p[m + 1] + 1) >> 1
                elif z >= 0:
                    out[y][x] = (p[m - 1] + 2 * p[m] + p[m + 1] + 2) >> 2
                elif z == -1:
                    out[y][x] = (left[0] + 2 * tl + top[0] + 2) >> 2
                else:  # z in {-2, -3} -> x == 0, y in {2, 3}
                    out[y][x] = (left[y - 1] + 2 * left[y - 2]
                                 + ([tl] + list(left))[y - 2] + 2) >> 2
        return out
    if mode == 6:    # horizontal-down (transpose-symmetric to VR)
        q = [tl] + list(left)
        out = [[0] * 4 for _ in range(4)]
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                m = y - (x >> 1)
                if z >= 0 and z % 2 == 0:
                    out[y][x] = (q[m] + q[m + 1] + 1) >> 1
                elif z >= 0:
                    out[y][x] = (q[m - 1] + 2 * q[m] + q[m + 1] + 2) >> 2
                elif z == -1:
                    out[y][x] = (top[0] + 2 * tl + left[0] + 2) >> 2
                else:  # z in {-2, -3} -> y == 0, x in {2, 3}
                    out[y][x] = (top[x - 1] + 2 * top[x - 2]
                                 + ([tl] + list(top))[x - 2] + 2) >> 2
        return out
    if mode == 7:    # vertical-left
        out = [[0] * 4 for _ in range(4)]
        for y in range(4):
            for x in range(4):
                k = x + (y >> 1)
                if y % 2 == 0:
                    out[y][x] = (t8[k] + t8[k + 1] + 1) >> 1
                else:
                    out[y][x] = (t8[k] + 2 * t8[k + 1] + t8[k + 2] + 2) >> 2
        return out
    if mode == 8:    # horizontal-up
        out = [[0] * 4 for _ in range(4)]
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                k = y + (x >> 1)
                if z % 2 == 0 and z < 5:
                    out[y][x] = (left[k] + left[k + 1] + 1) >> 1
                elif z < 5:
                    out[y][x] = (left[k] + 2 * left[k + 1]
                                 + left[k + 2] + 2) >> 2
                elif z == 5:
                    out[y][x] = (left[2] + 3 * left[3] + 2) >> 2
                else:
                    out[y][x] = left[3]
        return out
    raise ValueError(f"Intra_4x4 prediction mode {mode}")


def _cavlc_block(r: _R, nc: int, max_coeff: int) -> list[int]:
    """Decode one CAVLC residual block -> coefficient list in scan
    order (length max_coeff)."""
    if nc >= 8:
        code = r.u(6)  # fixed-length branch: formula, no table
        if code == 0b000011:
            tc, t1s = 0, 0
        else:
            tc, t1s = (code >> 2) + 1, code & 3
            # spec FLC: TotalCoeff = (code >> 2) + 1 except the
            # escape above; TrailingOnes = code & 3
    else:
        if nc == -1:
            book = _need("coeff_token", "cdc")
        elif nc < 2:
            book = _need("coeff_token", "0")
        elif nc < 4:
            book = _need("coeff_token", "2")
        else:
            book = _need("coeff_token", "4")
        tc, t1s = r.vlc(book, "coeff_token")
    coeffs = [0] * max_coeff
    if tc == 0:
        return coeffs
    levels = []
    for _ in range(t1s):
        levels.append(-1 if r.u(1) else 1)
    suffix_len = 1 if (tc > 10 and t1s < 3) else 0
    for i in range(tc - t1s):
        prefix = 0
        while r.u(1) == 0:
            prefix += 1
            if prefix > 32:
                raise ValueError("level_prefix too long — corrupt stream")
        suffix_size = suffix_len
        if prefix == 14 and suffix_len == 0:
            suffix_size = 4
        elif prefix >= 15:
            suffix_size = prefix - 3
        level_code = (min(15, prefix) << suffix_len)
        if suffix_size:
            level_code += r.u(suffix_size)
        if prefix >= 15 and suffix_len == 0:
            level_code += 15
        if prefix >= 16:
            level_code += (1 << (prefix - 3)) - 4096
        if i == 0 and t1s < 3:
            level_code += 2
        level = (level_code + 2) >> 1 if level_code % 2 == 0 \
            else -((level_code + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if tc < max_coeff:
        if nc == -1:
            book = _need("total_zeros", f"cdc{tc}")
        else:
            book = _need("total_zeros", str(tc))
        total_zeros = r.vlc(book, "total_zeros")
    else:
        total_zeros = 0
    zeros_left = total_zeros
    pos = tc - 1 + total_zeros  # scan index of the highest coefficient
    for i, level in enumerate(levels):
        coeffs[pos] = level
        if i == len(levels) - 1:
            break
        if zeros_left > 0:
            run = r.vlc(
                _need("run_before", str(min(zeros_left, 7))), "run_before"
            )
        else:
            run = 0
        zeros_left -= run
        pos -= run + 1
    return coeffs


def _pred16(mode: int, top, left, tl) -> list[list[int]]:
    """Intra_16x16 luma prediction. top/left: 16-sample lists or None."""
    if mode == 0:  # vertical
        if top is None:
            raise ValueError("Intra_16x16 vertical without top neighbor")
        return [list(top) for _ in range(16)]
    if mode == 1:  # horizontal
        if left is None:
            raise ValueError("Intra_16x16 horizontal without left neighbor")
        return [[left[y]] * 16 for y in range(16)]
    if mode == 2:  # DC
        if top is not None and left is not None:
            dc = (sum(top) + sum(left) + 16) >> 5
        elif top is not None:
            dc = (sum(top) + 8) >> 4
        elif left is not None:
            dc = (sum(left) + 8) >> 4
        else:
            dc = 128
        return [[dc] * 16 for _ in range(16)]
    if mode == 3:  # plane
        if top is None or left is None or tl is None:
            raise ValueError("Intra_16x16 plane needs top+left neighbors")
        h = sum((x + 1) * (top[8 + x] - (top[6 - x] if x < 7 else tl))
                for x in range(8))
        v = sum((y + 1) * (left[8 + y] - (left[6 - y] if y < 7 else tl))
                for y in range(8))
        a = 16 * (top[15] + left[15])
        b = (5 * h + 32) >> 6
        c = (5 * v + 32) >> 6
        return [
            [_clip8((a + b * (x - 7) + c * (y - 7) + 16) >> 5)
             for x in range(16)]
            for y in range(16)
        ]
    raise ValueError(f"Intra_16x16 prediction mode {mode}")


def _pred_chroma(mode: int, top, left, tl) -> list[list[int]]:
    """8x8 chroma prediction (mode 0 DC, 1 horizontal, 2 vertical,
    3 plane)."""
    if mode == 1:
        if left is None:
            raise ValueError("chroma horizontal without left neighbor")
        return [[left[y]] * 8 for y in range(8)]
    if mode == 2:
        if top is None:
            raise ValueError("chroma vertical without top neighbor")
        return [list(top) for _ in range(8)]
    if mode == 3:
        if top is None or left is None or tl is None:
            raise ValueError("chroma plane needs top+left neighbors")
        h = sum((x + 1) * (top[4 + x] - (top[2 - x] if x < 3 else tl))
                for x in range(4))
        v = sum((y + 1) * (left[4 + y] - (left[2 - y] if y < 3 else tl))
                for y in range(4))
        a = 16 * (top[7] + left[7])
        b = (17 * h + 16) >> 5
        c = (17 * v + 16) >> 5
        return [
            [_clip8((a + b * (x - 3) + c * (y - 3) + 16) >> 5)
             for x in range(8)]
            for y in range(8)
        ]
    # DC: per-4x4 quadrant with the spec's corner rules
    out = [[0] * 8 for _ in range(8)]
    for qy in (0, 4):
        for qx in (0, 4):
            t = top[qx: qx + 4] if top is not None else None
            le = left[qy: qy + 4] if left is not None else None
            if qx == 0 and qy == 0 or (qx == 4 and qy == 4):
                if t is not None and le is not None:
                    dc = (sum(t) + sum(le) + 4) >> 3
                elif t is not None:
                    dc = (sum(t) + 2) >> 2
                elif le is not None:
                    dc = (sum(le) + 2) >> 2
                else:
                    dc = 128
            elif qx == 4 and qy == 0:
                if t is not None:
                    dc = (sum(t) + 2) >> 2
                elif le is not None:
                    dc = (sum(le) + 2) >> 2
                else:
                    dc = 128
            else:  # qx == 0, qy == 4
                if le is not None:
                    dc = (sum(le) + 2) >> 2
                elif t is not None:
                    dc = (sum(t) + 2) >> 2
                else:
                    dc = 128
            for y in range(4):
                for x in range(4):
                    out[qy + y][qx + x] = dc
    return out


class _Plane:
    def __init__(self, w: int, h: int) -> None:
        self.w, self.h = w, h
        self.px = bytearray(w * h)

    def put(self, x0: int, y0: int, block) -> None:
        for dy, row in enumerate(block):
            base = (y0 + dy) * self.w + x0
            self.px[base: base + len(row)] = bytes(row)

    def row(self, x0: int, y: int, n: int):
        if y < 0 or x0 < 0 or x0 + n > self.w:
            return None
        base = y * self.w + x0
        return list(self.px[base: base + n])

    def col(self, x: int, y0: int, n: int):
        if x < 0 or y0 < 0 or y0 + n > self.h:
            return None
        return [self.px[(y0 + k) * self.w + x] for k in range(n)]


# --------------------------------------------------------- deblocking
#
# In-loop filter (spec clause 8.7), I-slice specialization: every
# macroblock is intra, so boundary strength is 4 on macroblock edges
# and 3 on internal 4x4 edges — no coded-coefficient / motion cases.
# The FILTER STRUCTURE (edge walk, sample conditions, strong and
# normal filtering equations, qP averaging with the I_PCM-means-0
# rule) is formula-level from the spec. The alpha/beta thresholds
# default to the PUBLISHED closed forms of the filter's designers
# (List, Joch, Lainema, Bjontegaard, Karczewicz, "Adaptive Deblocking
# Filter", IEEE Trans. CSVT 13(7), 2003): alpha(x) = 0.8*(2^(x/6)-1)
# and beta(x) = 0.5*x - 7, zero below the x = 16 activation point and
# capped at 255 / 18 — conformance against the spec's Table 8-16
# rests on the formula matching the table (override via the
# "deblock_alpha_beta" loader key for a guaranteed-conformant table).
# The tC0 clipping table (Table 8-17, bS 1..3 x 52) has no published
# closed form and is strictly Annex-B seam data ("deblock_tc0").
# Engine round trips self-check the filter independent of the table
# values: the encoder replays the decoder's deblock on its recon.


def _deblock_alpha(x: int) -> int:
    t = CAVLC["deblock"].get("alpha")
    if t is not None:
        return t[x]
    return 0 if x < 16 else min(255, int(0.8 * (2 ** (x / 6) - 1)))


def _deblock_beta(x: int) -> int:
    t = CAVLC["deblock"].get("beta")
    if t is not None:
        return t[x]
    return 0 if x < 16 else min(18, x // 2 - 7)


def _need_tc0():
    t = CAVLC["deblock"].get("tc0")
    if t is None and _try_env_tables():
        t = CAVLC["deblock"].get("tc0")
    if t is None:
        raise NotImplementedError(
            "deblocking tC0 (spec Table 8-17, bS < 4 clipping) is "
            "Annex-B data — load_cavlc_tables({'deblock_tc0': ...}) or "
            "$SPARK_GRAFT_CAVLC_TABLES injects it (module docstring "
            "seam note)"
        )
    return t


def _tc0_available() -> bool:
    if CAVLC["deblock"].get("tc0") is None:
        _try_env_tables()
    return CAVLC["deblock"].get("tc0") is not None


_warned_closed_form_ab = False


def _warn_if_closed_form_ab() -> None:
    """One-time warning when the in-loop filter is about to run with
    the tC0 seam injected but alpha/beta still on the published closed
    forms, which deviate from spec Table 8-16 at 19 of 104 indices
    (e.g. alpha idx 28: 19 vs 20; beta idx 16: 1 vs 2). Because the
    filter is in-loop, the divergence compounds across P frames on
    foreign streams; inject the "deblock_alpha_beta" loader key for a
    guaranteed-conformant decode. Engine round trips are unaffected
    (the encoder replays this decoder's filter, whatever the values)."""
    global _warned_closed_form_ab
    if _warned_closed_form_ab:
        return
    if (CAVLC["deblock"].get("alpha") is None
            or CAVLC["deblock"].get("beta") is None):
        _warned_closed_form_ab = True
        warnings.warn(
            "h264 deblocking: tC0 seam loaded but alpha/beta thresholds "
            "default to published closed forms that deviate from spec "
            "Table 8-16 at 19 indices — foreign-stream decode is "
            "near- but not fully conformant; inject "
            "load_cavlc_tables({'deblock_alpha_beta': {'alpha': [...], "
            "'beta': [...]}}) for exact Table 8-16 behavior",
            RuntimeWarning, stacklevel=3)


def _deblock_edge(px, base: int, step: int, n_lines: int,
                  line_step: int, bs: int, alpha: int, beta: int,
                  tc0: int, luma: bool) -> None:
    """Filter one edge, 4 samples deep on each side: for each of
    ``n_lines`` lines (``line_step`` apart), q_k = px[base + k*step]
    and p_k = px[base - (k+1)*step]. Per-line decisions read that
    line's pre-filter samples; writes are in place (later edges of
    the same picture see filtered values, per the spec's sequential
    process)."""
    for _ in range(n_lines):
        o = base
        base += line_step
        p0, p1, p2 = px[o - step], px[o - 2 * step], px[o - 3 * step]
        q0, q1, q2 = px[o], px[o + step], px[o + 2 * step]
        if not (abs(p0 - q0) < alpha and abs(p1 - p0) < beta
                and abs(q1 - q0) < beta):
            continue
        ap, aq = abs(p2 - p0), abs(q2 - q0)
        if bs == 4:
            if not luma:
                px[o - step] = (2 * p1 + p0 + q1 + 2) >> 2
                px[o] = (2 * q1 + q0 + p1 + 2) >> 2
                continue
            strong = abs(p0 - q0) < (alpha >> 2) + 2
            if strong and ap < beta:
                p3 = px[o - 4 * step]
                px[o - step] = (p2 + 2 * p1 + 2 * p0 + 2 * q0
                                + q1 + 4) >> 3
                px[o - 2 * step] = (p2 + p1 + p0 + q0 + 2) >> 2
                px[o - 3 * step] = (2 * p3 + 3 * p2 + p1 + p0
                                    + q0 + 4) >> 3
            else:
                px[o - step] = (2 * p1 + p0 + q1 + 2) >> 2
            if strong and aq < beta:
                q3 = px[o + 3 * step]
                px[o] = (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3
                px[o + step] = (q2 + q1 + q0 + p0 + 2) >> 2
                px[o + 2 * step] = (2 * q3 + 3 * q2 + q1 + q0
                                    + p0 + 4) >> 3
            else:
                px[o] = (2 * q1 + q0 + p1 + 2) >> 2
            continue
        # bS < 4: clipped delta filtering
        if luma:
            tc = tc0 + (1 if ap < beta else 0) + (1 if aq < beta else 0)
        else:
            tc = tc0 + 1
        delta = (((q0 - p0) << 2) + (p1 - q1) + 4) >> 3
        delta = -tc if delta < -tc else (tc if delta > tc else delta)
        px[o - step] = _clip8(p0 + delta)
        px[o] = _clip8(q0 - delta)
        if luma:
            if ap < beta:
                d1 = (p2 + ((p0 + q0 + 1) >> 1) - 2 * p1) >> 1
                d1 = -tc0 if d1 < -tc0 else (tc0 if d1 > tc0 else d1)
                px[o - 2 * step] = p1 + d1
            if aq < beta:
                d1 = (q2 + ((p0 + q0 + 1) >> 1) - 2 * q1) >> 1
                d1 = -tc0 if d1 < -tc0 else (tc0 if d1 > tc0 else d1)
                px[o + step] = q1 + d1


def _deblock_picture(y_plane, cb_plane, cr_plane, wm: int, hm: int,
                     mb_qp, mb_ipcm, mb_slice, slice_db,
                     chroma_qp_off: int, luma_nc=None, mv_g=None,
                     mb_t8=None) -> None:
    """Apply the in-loop filter to the reconstructed (uncropped) MB
    grid. ``slice_db[sid] = (idc, offA, offB)`` carries each slice's
    disable_deblocking_filter_idc and alpha/beta offsets (already
    doubled per FilterOffsetA/B); idc == 1 skips that slice's MBs,
    idc == 2 skips edges whose other side lies in a different slice.
    MBs run in raster order; per MB all vertical edges left-to-right,
    then all horizontal edges top-to-bottom. I_PCM macroblocks count
    as qP = 0 per 8.7.2.

    For all-intra pictures bS is 4 on MB edges and 3 internally (one
    strength per edge). When ``luma_nc``/``mv_g`` are given (P
    pictures, r9), bS follows 8.7.2.1 per 4x4 block pair: 4/3 when
    either side is intra, 2 when either side has coded coefficients,
    1 when refs differ or any MV component differs by >= 4 quarter
    samples, else 0 (unfiltered)."""
    tc0_tab = None
    per_block = mv_g is not None

    def qp_y(mbx: int, mby: int) -> int:
        return 0 if mb_ipcm[mby][mbx] else mb_qp[mby][mbx]

    def qp_c(mbx: int, mby: int) -> int:
        return _qpc(qp_y(mbx, mby) + chroma_qp_off)

    def coded4(bx: int, by: int) -> bool:
        """Coded-coefficient status of the 4x4 block: for an 8x8-
        transformed MB the spec tests the covering 8x8 block's
        levels, not the interleave cell."""
        if mb_t8 is not None and mb_t8[by // 4][bx // 4]:
            b0x, b0y = (bx // 2) * 2, (by // 2) * 2
            return any(luma_nc[b0y + dy][b0x + dx] > 0
                       for dy in (0, 1) for dx in (0, 1))
        return luma_nc[by][bx] > 0

    def bs_of(pbx: int, pby: int, qbx: int, qby: int,
              mb_edge: bool) -> int:
        if not per_block:
            return 4 if mb_edge else 3
        mp = mv_g[pby][pbx]
        mq = mv_g[qby][qbx]
        if mp is None or mq is None or mp[2] < 0 or mq[2] < 0:
            return 4 if mb_edge else 3  # intra on either side
        if coded4(pbx, pby) or coded4(qbx, qby):
            return 2
        if (mp[2] != mq[2] or abs(mp[0] - mq[0]) >= 4
                or abs(mp[1] - mq[1]) >= 4):
            return 1
        return 0

    for mby in range(hm):
        for mbx in range(wm):
            sid = mb_slice[mby][mbx]
            idc, off_a, off_b = slice_db[sid]
            if idc == 1:
                continue
            left_ok = mbx > 0 and (idc != 2
                                   or mb_slice[mby][mbx - 1] == sid)
            top_ok = mby > 0 and (idc != 2
                                  or mb_slice[mby - 1][mbx] == sid)
            for vertical in (True, False):
                if not (left_ok if vertical else top_ok):
                    first_e = 1
                else:
                    first_e = 0
                for e in range(first_e, 4):
                    if (e in (1, 3) and mb_t8 is not None
                            and mb_t8[mby][mbx]):
                        # 8x8 transform: no luma transform boundary
                        # at the 4-sample offsets (8.7); chroma rides
                        # only e in (0, 2) so nothing else is skipped
                        continue
                    mb_edge = e == 0
                    if e == 0:
                        nx, ny = ((mbx - 1, mby) if vertical
                                  else (mbx, mby - 1))
                    else:
                        nx, ny = mbx, mby
                    qav = (qp_y(nx, ny) + qp_y(mbx, mby) + 1) >> 1
                    ia = max(0, min(51, qav + off_a))
                    ib = max(0, min(51, qav + off_b))
                    a, b = _deblock_alpha(ia), _deblock_beta(ib)
                    if not (a > 0 and b > 0):
                        continue
                    qavc = (qp_c(nx, ny) + qp_c(mbx, mby) + 1) >> 1
                    iac = max(0, min(51, qavc + off_a))
                    ibc = max(0, min(51, qavc + off_b))
                    ac, bc = _deblock_alpha(iac), _deblock_beta(ibc)
                    # four 4-line luma segments (one 4x4 block pair
                    # each); bS is constant per segment
                    for seg in range(4):
                        if vertical:
                            qbx = 4 * mbx + e
                            qby = 4 * mby + seg
                            pbx, pby = qbx - 1, qby
                        else:
                            qbx = 4 * mbx + seg
                            qby = 4 * mby + e
                            pbx, pby = qbx, qby - 1
                        bs = bs_of(pbx, pby, qbx, qby, mb_edge)
                        if bs == 0:
                            continue
                        if bs < 4:
                            if tc0_tab is None:
                                tc0_tab = _need_tc0()
                            tc0 = tc0_tab[bs - 1][ia]
                        else:
                            tc0 = 0
                        pl = y_plane
                        if vertical:
                            base = ((16 * mby + 4 * seg) * pl.w
                                    + 16 * mbx + 4 * e)
                            _deblock_edge(pl.px, base, 1, 4, pl.w,
                                          bs, a, b, tc0, True)
                        else:
                            base = ((16 * mby + 4 * e) * pl.w
                                    + 16 * mbx + 4 * seg)
                            _deblock_edge(pl.px, base, pl.w, 4, 1,
                                          bs, a, b, tc0, True)
                        if e in (0, 2) and ac > 0 and bc > 0:
                            # co-located chroma edge segment (2 lines)
                            if bs < 4:
                                tc0c = tc0_tab[bs - 1][iac]
                            else:
                                tc0c = 0
                            for pl in (cb_plane, cr_plane):
                                if vertical:
                                    base = ((8 * mby + 2 * seg) * pl.w
                                            + 8 * mbx + 2 * e)
                                    _deblock_edge(pl.px, base, 1, 2,
                                                  pl.w, bs, ac, bc,
                                                  tc0c, False)
                                else:
                                    base = ((8 * mby + 2 * e) * pl.w
                                            + 8 * mbx + 2 * seg)
                                    _deblock_edge(pl.px, base, pl.w,
                                                  2, 1, bs, ac, bc,
                                                  tc0c, False)


def _rbsp_stop(d: bytes) -> int:
    """Bit position (MSB-first indexing) of the rbsp_stop_one_bit —
    the LAST set bit of the RBSP. Macroblock data continues while the
    read position is before it (the spec's more_rbsp_data())."""
    for i in range(len(d) - 1, -1, -1):
        if d[i]:
            b = d[i]
            for k in range(8):          # k = bit index from the LSB
                if b & (1 << k):
                    return 8 * i + (7 - k)
    return 0


def _parse_pred_weight_table(r: _R, num_ref0: int,
                             num_ref1: int) -> dict:
    """pred_weight_table (7.3.3.2): explicit per-reference luma and
    chroma (weight, offset) pairs — syntax-carried, no seam. Absent
    flags default to (1 << logWD, 0)."""
    lwd = r.ue()
    cwd = r.ue()
    if lwd > 7 or cwd > 7:
        raise ValueError("pred_weight_table log2 denom out of range")

    def one_list(n):
        luma, chroma = [], []
        for _ in range(n):
            if r.u(1):
                luma.append((r.se(), r.se()))
            else:
                luma.append((1 << lwd, 0))
            if r.u(1):
                chroma.append(((r.se(), r.se()), (r.se(), r.se())))
            else:
                chroma.append((((1 << cwd), 0), ((1 << cwd), 0)))
        return luma, chroma

    l0, c0 = one_list(num_ref0)
    l1, c1 = one_list(num_ref1) if num_ref1 else ([], [])
    return {"lwd": lwd, "cwd": cwd, "l0": l0, "c0": c0,
            "l1": l1, "c1": c1}


def _wp_uni(blk, w: int, o: int, lwd: int):
    """Explicit uni-directional weighted sample prediction
    (8.4.2.3.2): ((s*w + 2^(lwd-1)) >> lwd) + o, clipped."""
    rnd = 1 << (lwd - 1) if lwd else 0
    return [[_clip8(((v * w + rnd) >> lwd) + o) for v in row]
            for row in blk]


def _bi_avg(b0, b1):
    """Default bi-prediction: per-sample rounded average."""
    return [[(x + y + 1) >> 1 for x, y in zip(r0, r1)]
            for r0, r1 in zip(b0, b1)]


def _wp_bi(b0, b1, w0: int, o0: int, w1: int, o1: int, lwd: int):
    """Explicit bi-directional weighted sample prediction."""
    off = (o0 + o1 + 1) >> 1
    rnd = 1 << lwd
    return [[_clip8(((x * w0 + y * w1 + rnd) >> (lwd + 1)) + off)
             for x, y in zip(r0, r1)] for r0, r1 in zip(b0, b1)]


def _clip3(lo: int, hi: int, v: int) -> int:
    return lo if v < lo else (hi if v > hi else v)


def _dist_scale_factor(cur: int, poc0: int, poc1: int) -> int:
    """DistScaleFactor (8.4.1.2.3): POC-distance ratio in .8 fixed
    point between (cur - poc0) and (poc1 - poc0). Spec '/' truncates
    toward zero; the numerator 16384 + Abs(td/2) is positive, so
    truncation = floor of the absolute quotient with the sign of td."""
    tb = _clip3(-128, 127, cur - poc0)
    td = _clip3(-128, 127, poc1 - poc0)
    q = (16384 + (abs(td) >> 1)) // abs(td)
    tx = q if td > 0 else -q
    return _clip3(-1024, 1023, (tb * tx + 32) >> 6)


def _temporal_mv_scale(cur: int, poc0: int, poc1: int, mvcol):
    """Temporal direct MV derivation (8.4.1.2.3): scale the colocated
    MV by the POC-distance ratio. Returns (mvL0, mvL1). When the two
    anchor pictures share a POC the colocated MV passes through
    unscaled and list 1 gets the zero MV."""
    if poc0 == poc1:
        return (mvcol[0], mvcol[1]), (0, 0)
    dsf = _dist_scale_factor(cur, poc0, poc1)
    mv0 = ((dsf * mvcol[0] + 128) >> 8, (dsf * mvcol[1] + 128) >> 8)
    return mv0, (mv0[0] - mvcol[0], mv0[1] - mvcol[1])


def _implicit_weights(cur: int, poc0: int, poc1: int):
    """Implicit weighted bi-prediction weights (8.4.2.3.1,
    weighted_bipred_idc = 2): (w0, w1) with logWD fixed at 5 and zero
    offsets. Falls back to the 32/32 equal split when the anchors
    share a POC or the scale factor leaves [-64, 128] (the spec's
    guard against extreme extrapolation)."""
    if poc0 == poc1:
        return 32, 32
    w1 = _dist_scale_factor(cur, poc0, poc1) >> 2
    if w1 < -64 or w1 > 128:
        return 32, 32
    return 64 - w1, w1


def _parse_ref_mod(r: _R) -> list:
    """ref_pic_list_modification commands (7.3.3.1) until idc 3:
    [(idc, value), ...] — idc 0/1 carry abs_diff_pic_num_minus1,
    idc 2 (r12) carries long_term_pic_num."""
    out = []
    while True:
        idc = r.ue()
        if idc == 3:
            return out
        if idc > 3:
            raise ValueError(
                f"modification_of_pic_nums_idc {idc} out of range")
        out.append((idc, r.ue()))


def _parse_mmco(r: _R) -> list:
    """Adaptive dec_ref_pic_marking (7.3.3.3): all frame-coding ops
    (1/2/3/4/5/6) parse; op 5 is the full-reset (everything
    unmarked + the current picture re-origined at frame_num/POC
    0)."""
    out = []
    while True:
        op = r.ue()
        if op == 0:
            return out
        if op in (1, 2, 4, 6):
            out.append((op, r.ue()))
        elif op == 3:
            out.append((3, r.ue(), r.ue()))
        elif op == 5:
            out.append((5,))
        else:
            raise ValueError(
                f"memory_management_control_operation {op} out of "
                "range")


def _entry_pic_num(e, cur_fn: int, max_fn: int):
    """PicNum of a SHORT-TERM DPB entry (8.2.4.1, frame coding):
    FrameNumWrap = frame_num - MaxFrameNum when the stored frame_num
    exceeds the current one. None for long-term entries and entries
    without a stored frame_num."""
    if _entry_lt(e) is not None:
        return None
    fn = e[8] if len(e) > 8 else None
    if fn is None:
        return None
    return fn if fn <= cur_fn else fn - max_fn


def _entry_lt(e):
    """LongTermFrameIdx of a DPB entry, None for short-term."""
    return e[9] if len(e) > 9 else None


def _set_lt(e, idx):
    e2 = list(e) + [None] * (10 - len(e))
    e2[9] = idx
    return tuple(e2)


def _lt_tail(dpb):
    """Long-term entries ordered by LongTermFrameIdx — the common
    tail of every initial reference list (8.2.4.2)."""
    return sorted((e for e in dpb if _entry_lt(e) is not None),
                  key=_entry_lt)


def _apply_marking(dpb, mmco, entry, cur_fn: int, max_fn: int,
                   max_ref: int):
    """dec_ref_pic_marking (8.2.5): adaptive MMCO ops (1/2/3/4/6) or
    the sliding window, then the current picture inserted at the
    front. Long-term entries are exempt from the window; the window
    evicts the OLDEST short-term."""
    dpb = list(dpb)
    if mmco:
        for cmd in mmco:
            op = cmd[0]
            if op == 1:
                px = cur_fn - (cmd[1] + 1)
                dpb = [e for e in dpb
                       if _entry_pic_num(e, cur_fn, max_fn) != px]
            elif op == 2:
                dpb = [e for e in dpb if _entry_lt(e) != cmd[1]]
            elif op == 3:
                px = cur_fn - (cmd[1] + 1)
                lt = cmd[2]
                # 8.2.5.4.3: any picture already holding the index
                # is unmarked first
                dpb = [e for e in dpb if _entry_lt(e) != lt]
                dpb = [(_set_lt(e, lt)
                        if _entry_pic_num(e, cur_fn, max_fn) == px
                        else e) for e in dpb]
            elif op == 4:
                mx = cmd[1] - 1      # value is max idx + 1
                dpb = [e for e in dpb
                       if _entry_lt(e) is None or _entry_lt(e) <= mx]
            elif op == 5:
                dpb = []    # reset: everything unmarked (8.2.5.4.5)
            elif op == 6:
                lt = cmd[1]
                dpb = [e for e in dpb if _entry_lt(e) != lt]
                entry = _set_lt(entry, lt)
        dpb.insert(0, entry)
        return dpb
    dpb.insert(0, entry)
    cap = max(1, max_ref)
    while len(dpb) > cap:
        for i in range(len(dpb) - 1, -1, -1):
            if _entry_lt(dpb[i]) is None:
                del dpb[i]
                break
        else:
            break                    # nothing short-term to evict
    return dpb


def _apply_ref_mod(initial, cmds, cur_fn: int, max_fn: int):
    """Short-term reference list modification (8.2.4.3.1): each
    command derives picNumLX from the running predictor with
    MaxPicNum wrap, then lifts that picture to the next slot,
    shifting the rest down. Pool == the full initial list (every
    reference appears exactly once, so pop+insert equals the spec's
    insert+dedup)."""
    lst = list(initial)
    pred = cur_fn
    idx = 0
    for idc, val in cmds:
        if idc == 2:
            # long_term_pic_num (r12); does NOT touch the short-term
            # predictor chain per 8.2.4.3.1
            pos = next((k for k, e in enumerate(lst)
                        if _entry_lt(e) == val), None)
            if pos is None:
                raise ValueError(
                    "ref_pic_list_modification: no long-term "
                    f"reference with LongTermPicNum {val}")
            lst.insert(idx, lst.pop(pos))
            idx += 1
            continue
        if idc == 0:
            nw = pred - (val + 1)
            if nw < 0:
                nw += max_fn
        else:
            nw = pred + (val + 1)
            if nw >= max_fn:
                nw -= max_fn
        pred = nw
        pic_num = nw if nw <= cur_fn else nw - max_fn
        pos = next((k for k, e in enumerate(lst)
                    if _entry_pic_num(e, cur_fn, max_fn) == pic_num),
                   None)
        if pos is None:
            raise ValueError(
                "ref_pic_list_modification: no short-term reference "
                f"with PicNum {pic_num} in the DPB")
        lst.insert(idx, lst.pop(pos))
        idx += 1
    return lst


def _parse_slice_header(r: _R, sps: dict, pps: dict, typ: int,
                        ref_idc: int) -> dict:
    """I- or P-slice header -> dict with first_mb, qp, deblock params
    (idc + FilterOffsetA/B), is_p, and the active L0 reference count
    (r9: P slices — B slices need bi-prediction and stay out of
    scope)."""
    first_mb = r.ue()
    slice_type = r.ue()
    st = slice_type % 5
    if st not in (0, 1, 2):
        raise NotImplementedError(
            f"slice_type {slice_type} — I, P and B slices only"
        )
    is_p = st == 0
    is_b = st == 1
    r.ue()  # pps id
    frame_num = r.u(sps["log2_max_frame_num"])
    poc_lsb = None
    if typ == 5:
        r.ue()  # idr_pic_id
    if sps["poc_type"] == 0:
        poc_lsb = r.u(sps["poc_lsb_bits"])
        if pps["bottom_field"]:
            r.se()
    direct_spatial = None
    if is_b:
        direct_spatial = r.u(1)
    num_ref = pps["num_ref_l0"]
    num_ref1 = pps["num_ref_l1"]
    weights = None
    mod_l0 = mod_l1 = None
    mmco = None
    if is_p or is_b:
        if r.u(1):  # num_ref_idx_active_override_flag
            num_ref = r.ue() + 1
            if is_b:
                num_ref1 = r.ue() + 1
        if r.u(1):  # ref_pic_list_modification_flag_l0
            mod_l0 = _parse_ref_mod(r)
        if is_b and r.u(1):  # ref_pic_list_modification_flag_l1
            mod_l1 = _parse_ref_mod(r)
        if ((is_p and pps["weighted_pred"])
                or (is_b and pps["weighted_bipred"] == 1)):
            weights = _parse_pred_weight_table(
                r, num_ref, num_ref1 if is_b else 0)
    idr_bits = None
    if typ == 5:
        idr_bits = (r.u(1), r.u(1))  # no_output_of_prior / long_term
    elif ref_idc:
        # dec_ref_pic_marking for a non-IDR reference slice
        if r.u(1):  # adaptive_ref_pic_marking_mode_flag
            mmco = _parse_mmco(r)
    qp = pps["init_qp"] + r.se()
    idc, off_a, off_b = 0, 0, 0
    if pps["deblock_ctl"]:
        idc = r.ue()
        if idc != 1:
            off_a = 2 * r.se()  # slice_alpha_c0_offset_div2
            off_b = 2 * r.se()  # slice_beta_offset_div2
    return {"first_mb": first_mb, "qp": qp, "idc": idc,
            "off_a": off_a, "off_b": off_b, "is_p": is_p,
            "is_b": is_b, "num_ref1": num_ref1, "weights": weights,
            "direct_spatial": direct_spatial,
            "implicit_wp": is_b and pps["weighted_bipred"] == 2,
            "num_ref": num_ref, "frame_num": frame_num,
            "poc_lsb": poc_lsb, "ref_idc": ref_idc,
            "idr_bits": idr_bits, "ref_mod_l0": mod_l0,
            "ref_mod_l1": mod_l1, "mmco": mmco}


# ------------------------------------------------- motion compensation

def _mv_predict(getmv, bx0: int, by0: int, w_blks: int, ref: int,
                directional: str | None = None):
    """Median (or directional) luma MV predictor (spec 8.4.1.3) for a
    partition whose top-left 4x4 block is (bx0, by0), width
    ``w_blks`` blocks. ``getmv(bx, by)`` returns (mvx, mvy, refIdx)
    or None for unavailable; intra blocks carry refIdx -1. Shared by
    the decoder and the engine encoder so mvd coding round-trips by
    construction."""
    a = getmv(bx0 - 1, by0)
    b = getmv(bx0, by0 - 1)
    c = getmv(bx0 + w_blks, by0 - 1)
    if c is None:
        c = getmv(bx0 - 1, by0 - 1)  # D substitutes for C
    if directional == "A" and a is not None and a[2] == ref:
        return a[0], a[1]
    if directional == "B" and b is not None and b[2] == ref:
        return b[0], b[1]
    if directional == "C" and c is not None and c[2] == ref:
        return c[0], c[1]
    if b is None and c is None and a is not None:
        return a[0], a[1]
    matches = [m for m in (a, b, c) if m is not None and m[2] == ref]
    if len(matches) == 1:
        return matches[0][0], matches[0][1]

    def med(i):
        vals = sorted((m[i] if m is not None else 0)
                      for m in (a, b, c))
        return vals[1]

    return med(0), med(1)


def _plane_np(plane):
    import numpy as np

    return np.asarray(plane.px, dtype=np.int32).reshape(plane.h, plane.w)


def _interp_luma(arr, x0: int, y0: int, bw: int, bh: int,
                 mvx: int, mvy: int):
    """Quarter-sample luma prediction block (spec 8.4.2.2.1): 6-tap
    [1,-5,20,20,-5,1] half-pel filters, quarter positions as rounded
    averages of the adjacent integer/half samples, frame edges
    clamped (edge extension). ``arr`` is the reference picture as an
    int numpy array; returns bh x bw int rows."""
    import numpy as np

    ix, fx = x0 + (mvx >> 2), mvx & 3
    iy, fy = y0 + (mvy >> 2), mvy & 3
    hh, ww = arr.shape
    ys = np.clip(np.arange(iy - 2, iy + bh + 3), 0, hh - 1)
    xs = np.clip(np.arange(ix - 2, ix + bw + 3), 0, ww - 1)
    win = arr[np.ix_(ys, xs)].astype(np.int64)  # (bh+5, bw+5)

    def tap_x(a):
        return (a[:, 0:-5] - 5 * a[:, 1:-4] + 20 * a[:, 2:-3]
                + 20 * a[:, 3:-2] - 5 * a[:, 4:-1] + a[:, 5:])

    def tap_y(a):
        return (a[0:-5, :] - 5 * a[1:-4, :] + 20 * a[2:-3, :]
                + 20 * a[3:-2, :] - 5 * a[4:-1, :] + a[5:, :])

    def clip8a(a):
        return np.clip(a, 0, 255)

    g = win[2: 2 + bh, 2: 2 + bw]
    if fx == 0 and fy == 0:
        return g.tolist()
    b_raw = tap_x(win)                       # (bh+5, bw)
    h_raw = tap_y(win)                       # (bh, bw+5)
    b = clip8a((b_raw + 16) >> 5)
    h = clip8a((h_raw + 16) >> 5)
    b_sel = b[2: 2 + bh, :]
    s = b[3: 3 + bh, :]
    h_sel = h[:, 2: 2 + bw]
    m = h[:, 3: 3 + bw]
    g_r = win[2: 2 + bh, 3: 3 + bw]
    g_d = win[3: 3 + bh, 2: 2 + bw]
    j = None
    if fx in (1, 2, 3) and fy in (1, 2, 3):
        # center half-pel from the UNROUNDED vertical intermediates
        j = clip8a((tap_x(h_raw) + 512) >> 10)

    def avg(a, b2):
        return (a + b2 + 1) >> 1

    out = {
        (1, 0): lambda: avg(g, b_sel),
        (2, 0): lambda: b_sel,
        (3, 0): lambda: avg(b_sel, g_r),
        (0, 1): lambda: avg(g, h_sel),
        (1, 1): lambda: avg(b_sel, h_sel),
        (2, 1): lambda: avg(b_sel, j),
        (3, 1): lambda: avg(b_sel, m),
        (0, 2): lambda: h_sel,
        (1, 2): lambda: avg(h_sel, j),
        (2, 2): lambda: j,
        (3, 2): lambda: avg(j, m),
        (0, 3): lambda: avg(h_sel, g_d),
        (1, 3): lambda: avg(h_sel, s),
        (2, 3): lambda: avg(j, s),
        (3, 3): lambda: avg(m, s),
    }[(fx, fy)]()
    return out.tolist()


def _interp_chroma(arr, cx0: int, cy0: int, bw: int, bh: int,
                   mvx: int, mvy: int):
    """Eighth-sample chroma prediction (spec 8.4.2.2.2): bilinear over
    the four neighboring integer samples, edges clamped. The luma MV
    in quarter units IS the chroma MV in eighth units (4:2:0)."""
    import numpy as np

    ix, fx = cx0 + (mvx >> 3), mvx & 7
    iy, fy = cy0 + (mvy >> 3), mvy & 7
    hh, ww = arr.shape
    ys = np.clip(np.arange(iy, iy + bh + 1), 0, hh - 1)
    xs = np.clip(np.arange(ix, ix + bw + 1), 0, ww - 1)
    win = arr[np.ix_(ys, xs)].astype(np.int64)
    a = win[:bh, :bw]
    b = win[:bh, 1:]
    c = win[1:, :bw]
    d = win[1:, 1:]
    out = ((8 - fx) * (8 - fy) * a + fx * (8 - fy) * b
           + (8 - fx) * fy * c + fx * fy * d + 32) >> 6
    return out.tolist()


# ---------------------------------------------------- entropy source
#
# decode_mb / decode_inter_mb / decode_chroma fetch every syntax
# element through an ``ent`` object: CAVLC, i.e. Exp-Golomb plus the
# r8 CAVLC block decoder (CABAC streams are refused up front).


class _EntCavlc:
    """CAVLC entropy source — thin shims preserving the pre-r10
    inline parse behavior bit-for-bit."""

    def __init__(self, r: _R) -> None:
        self.r = r

    def mb_type(self, mbx, mby, mode) -> int:
        return self.r.ue()

    def sub_mb_type(self) -> int:
        return self.r.ue()

    def ref_idx(self, nref, mbx, mby, px, py, pw, ph,
                lst: int = 0) -> int:
        mx = nref - 1
        if mx <= 0:
            return 0
        if mx == 1:
            return 1 - self.r.u(1)
        return self.r.ue()

    def mvd(self, mbx, mby, px, py, pw, ph, lst: int = 0):
        return (self.r.se(), self.r.se())

    def t8_flag(self, mbx, mby) -> int:
        return self.r.u(1)

    def i4_mode(self):
        if self.r.u(1):   # prev_intra4x4_pred_mode_flag
            return (1, None)
        return (0, self.r.u(3))

    def chroma_mode(self, mbx, mby) -> int:
        return self.r.ue()

    def cbp(self, mbx, mby, intra: bool) -> int:
        code = self.r.ue()
        book = _need("cbp_intra", "intra" if intra else "inter")
        cbp = book.get(code)
        if cbp is None:
            kind = "" if intra else "inter "
            raise ValueError(
                f"{kind}coded_block_pattern codeNum {code} unmapped")
        return cbp

    def qp_delta(self) -> int:
        return self.r.se()

    def block(self, kind, nc, n, pos):
        return _cavlc_block(self.r, nc, n)

    def ipcm_samples(self):
        self.r.byte_align()
        y16 = [[self.r.u(8) for _ in range(16)] for _ in range(16)]
        cb8 = [[self.r.u(8) for _ in range(8)] for _ in range(8)]
        cr8 = [[self.r.u(8) for _ in range(8)] for _ in range(8)]
        return y16, cb8, cr8


def _decode_picture(sps: dict, pps: dict, pic, refs, deblock,
                    cur_poc: int = 0):
    """Decode ONE coded picture (its list of (nal_type, ref_idc, rbsp)
    slices) against the reference list ``refs`` (most-recent-first
    numpy plane triples). Returns the reconstructed (possibly
    in-loop-filtered) y/cb/cr ``_Plane``s at the uncropped MB grid.
    CABAC pictures (PPS entropy_coding_mode_flag = 1) are refused.

    Multi-slice pictures decode (r9): slices must cover the MB raster
    contiguously in order (no FMO/ASO); intra prediction, CAVLC nC
    contexts and MV prediction treat other-slice neighbors as
    UNAVAILABLE, per the slice-independence rule. P slices (r9):
    P_Skip / P_L0_16x16 / 16x8 / 8x16 partitions with median MV
    prediction, quarter-pel luma + eighth-pel chroma MC, multi-ref
    L0 via sliding-window DPB; P_8x8 sub-partitions raise."""
    if pps.get("entropy"):
        raise NotImplementedError(
            "CABAC entropy coding (PPS entropy_coding_mode_flag = 1) "
            "is not supported")
    wm, hm = sps["width_mbs"], sps["height_mbs"]
    y_plane = _Plane(16 * wm, 16 * hm)
    cb_plane = _Plane(8 * wm, 8 * hm)
    cr_plane = _Plane(8 * wm, 8 * hm)
    #: per-4x4-block coefficient counts for nC (luma grid 4wm x 4hm,
    #: chroma grids 2wm x 2hm per component); -1 = unavailable
    luma_nc = [[-1] * (4 * wm) for _ in range(4 * hm)]
    cb_nc = [[-1] * (2 * wm) for _ in range(2 * hm)]
    cr_nc = [[-1] * (2 * wm) for _ in range(2 * hm)]
    #: which slice decoded each MB (-1 = not yet) — neighbors from a
    #: DIFFERENT slice are unavailable for prediction and nC
    mb_slice = [[-1] * wm for _ in range(hm)]
    #: per-MB final QPY + I_PCM flags + per-slice deblock params, for
    #: the in-loop filter pass
    mb_qp_g = [[26] * wm for _ in range(hm)]
    mb_ipcm = [[False] * wm for _ in range(hm)]
    slice_db: list[tuple[int, int, int]] = []
    #: per-MB Intra_4x4 flag + per-4x4-block prediction modes (for the
    #: min(A, B) mode prediction; non-I4x4 neighbors count as DC=2)
    mb_i4 = [[False] * wm for _ in range(hm)]
    i4_modes = [[2] * (4 * wm) for _ in range(4 * hm)]
    #: per-4x4-block motion info: None = not decoded, else
    #: (mvx, mvy, ref) with ref = -1 for intra blocks (spec 8.4.1.3).
    #: B slices (r10) keep a second grid for list 1; a partition that
    #: does not use a list carries (0, 0, -1) there — available-but-
    #: unused per 8.4.1.3.1 (contributes 0 to the median), distinct
    #: from None (MB not available)
    mv_g = [[None] * (4 * wm) for _ in range(4 * hm)]
    mv_g1 = [[None] * (4 * wm) for _ in range(4 * hm)]
    #: per-4x4-block POC of the picture the L0 motion references
    #: (None for intra/undecoded) — temporal direct mode (r11) maps a
    #: colocated block's reference into the CURRENT RefPicList0 by
    #: POC, and a ref INDEX alone is meaningless across pictures
    #: (each slice builds its own list order)
    mv_refpoc = [[None] * (4 * wm) for _ in range(4 * hm)]
    #: L1 twin of mv_refpoc: temporal direct (8.4.1.2.1) falls back
    #: to the colocated block's L1 motion when it predicted L1-only
    #: (a B picture used as reference), so the L1 ref POCs persist too
    mv_refpoc1 = [[None] * (4 * wm) for _ in range(4 * hm)]
    #: High profile (r12): per-MB transform_size_8x8_flag (drives the
    #: residual/deblock block size) + the PPS-effective scaling
    #: matrices (None == Flat_16 fast path)
    mb_t8 = [[False] * wm for _ in range(hm)]
    t8_allowed = bool(pps.get("transform_8x8"))
    sc4 = pps.get("scaling4")
    sc8 = pps.get("scaling8")
    cr_qp_off = pps.get("chroma_qp_off2", pps["chroma_qp_off"])

    cur_slice = 0
    r = _R(b"")
    ent = None      # per-slice entropy source (_EntCavlc)
    qp = 26
    p_weights = None   # per-slice explicit P weighting (r10)
    #: POC per active-L0 index for the CURRENT slice (refs order for
    #: P slices, b_ctx["l0"] order for B slices); None where the DPB
    #: entry carries no POC (short test tuples)
    cur_l0_pocs: list = []
    cur_l1_pocs: list = []
    #: the current slice's (possibly modified) L0 reference list for
    #: P prediction — rebuilt per slice from ref_pic_list_modification
    refs_l0 = refs

    def mb_avail(mbx2: int, mby2: int) -> bool:
        return (0 <= mbx2 < wm and 0 <= mby2 < hm
                and mb_slice[mby2][mbx2] == cur_slice)

    def nc_of(grid, bx, by, div):
        na = (grid[by][bx - 1]
              if bx > 0 and mb_avail((bx - 1) // div, by // div) else -1)
        nb = (grid[by - 1][bx]
              if by > 0 and mb_avail(bx // div, (by - 1) // div) else -1)
        if na >= 0 and nb >= 0:
            return (na + nb + 1) >> 1
        if na >= 0:
            return na
        if nb >= 0:
            return nb
        return 0

    def blk_decoded(bx: int, by: int, cur_mb: int, cur_blk: int) -> bool:
        """Is the 4x4 block at global block coords (bx, by) decoded
        before block cur_blk of macroblock cur_mb AND in the same
        slice? (raster MB order, _BLK4_XY coding order within an MB)"""
        if bx < 0 or by < 0 or bx >= 4 * wm or by >= 4 * hm:
            return False
        nmb = (by // 4) * wm + (bx // 4)
        if nmb != cur_mb:
            return nmb < cur_mb and mb_avail(bx // 4, by // 4)
        return _BLK4_IDX[(bx % 4, by % 4)] < cur_blk

    # ---- motion-vector prediction (spec 8.4.1.3) ----

    def mvinfo(bx: int, by: int):
        if bx < 0 or by < 0 or bx >= 4 * wm or by >= 4 * hm:
            return None
        if not mb_avail(bx // 4, by // 4):
            return None
        return mv_g[by][bx]

    def mvinfo1(bx: int, by: int):
        if bx < 0 or by < 0 or bx >= 4 * wm or by >= 4 * hm:
            return None
        if not mb_avail(bx // 4, by // 4):
            return None
        return mv_g1[by][bx]

    def set_mv(mbx, mby, px, py, pw, ph, mv, grid=None):
        is_l0 = grid is None
        grid = mv_g if grid is None else grid
        pocs = cur_l0_pocs if is_l0 else cur_l1_pocs
        pgrid = mv_refpoc if is_l0 else mv_refpoc1
        refpoc = pocs[mv[2]] if 0 <= mv[2] < len(pocs) else None
        for by in range((16 * mby + py) // 4,
                        (16 * mby + py + ph) // 4):
            for bx in range((16 * mbx + px) // 4,
                            (16 * mbx + px + pw) // 4):
                grid[by][bx] = mv
                pgrid[by][bx] = refpoc

    def mv_pred(bx0: int, by0: int, w_blks: int, ref: int,
                directional: str | None = None):
        return _mv_predict(mvinfo, bx0, by0, w_blks, ref, directional)

    def mc_luma(mbx, mby, px, py, pw, ph, mvx, mvy, ref):
        return _interp_luma(refs_l0[ref][0], 16 * mbx + px,
                            16 * mby + py, pw, ph, mvx, mvy)

    def mc_chroma(mbx, mby, mvx, mvy, ref):
        return (_interp_chroma(refs_l0[ref][1], 8 * mbx, 8 * mby,
                               8, 8, mvx, mvy),
                _interp_chroma(refs_l0[ref][2], 8 * mbx, 8 * mby,
                               8, 8, mvx, mvy))

    def dq_ac(c, qp_, i, j, midx):
        """4x4 AC dequant through the active scaling matrix ``midx``
        (0..5); flat matrices take the folded fast path."""
        if sc4 is None:
            return _dequant_ac(c, qp_ % 6, qp_ // 6, i, j)
        return _dq4_w(c, qp_, i, j, sc4[midx])

    def read_scan64(bx, by):
        """One 8x8 luma block's 64-coefficient scan: 4 interleaved
        4x4 blocks (7.4.5.3.2: level8x8[4*k + sub] =
        level4x4[sub][k]), each sub-block's total_coeff landing in
        its own 4x4 nC cell."""
        scan64 = [0] * 64
        for sub in range(4):
            sbx, sby = bx + sub % 2, by + sub // 2
            sc = ent.block("l4", nc_of(luma_nc, sbx, sby, 4), 16,
                           (sbx, sby))
            luma_nc[sby][sbx] = sum(1 for v in sc if v)
            for k in range(16):
                scan64[4 * k + sub] = sc[k]
        return scan64

    def luma8x8_residual(mbx, mby, b8, qp_, intra: bool):
        """Dequant + inverse-transform one coded 8x8 block ->
        pre-clip residual rows (caller adds prediction)."""
        ox, oy = 8 * (b8 % 2), 8 * (b8 // 2)
        bx, by = (16 * mbx + ox) // 4, (16 * mby + oy) // 4
        scan64 = read_scan64(bx, by)
        w8 = None if sc8 is None else sc8[0 if intra else 1]
        d = [[0] * 8 for _ in range(8)]
        for k, (i, j) in enumerate(_ZIG8):
            cv = scan64[k]
            if cv:
                d[i][j] = _dq8(cv, qp_, i, j, w8)
        return _itrans8(d)

    def decode_chroma(mbx: int, mby: int, chroma_mode: int,
                      cbp_chroma: int, qp: int, preds=None) -> None:
        intra = preds is None
        up = mb_avail(mbx, mby - 1)
        lf = mb_avail(mbx - 1, mby)
        for ci, (plane, grid) in enumerate(((cb_plane, cb_nc),
                                            (cr_plane, cr_nc))):
            qc = _qpc(qp + (pps["chroma_qp_off"] if ci == 0
                            else cr_qp_off))
            cdiv, cmod = qc // 6, qc % 6
            midx = (1 + ci) if intra else (4 + ci)
            cx0, cy0 = 8 * mbx, 8 * mby
            if preds is not None:
                cpred = preds[ci]
            else:
                ctop = plane.row(cx0, cy0 - 1, 8) if up else None
                cleft = plane.col(cx0 - 1, cy0, 8) if lf else None
                ctl = (plane.px[(cy0 - 1) * plane.w + cx0 - 1]
                       if (up and lf) else None)
                cpred = _pred_chroma(chroma_mode, ctop, cleft, ctl)
            if cbp_chroma == 0:
                plane.put(cx0, cy0, cpred)
                for by in range(2 * mby, 2 * mby + 2):
                    for bx in range(2 * mbx, 2 * mbx + 2):
                        grid[by][bx] = 0
                continue
            # chroma DC 2x2 (nC = -1)
            cdc_scan = ent.block("cdc", -1, 4, (mbx, mby, ci))
            a, b, c, d4 = cdc_scan
            fdc = [
                [a + b + c + d4, a - b + c - d4],
                [a + b - c - d4, a - b - c + d4],
            ]
            if sc4 is None:
                cdc = [[_dequant_chroma_dc(fdc[i][j], qc)
                        for j in range(2)] for i in range(2)]
            else:
                cdc = [[_dq_chroma_dc_w(fdc[i][j], qc, sc4[midx][0])
                        for j in range(2)] for i in range(2)]
            cac = [[0] * 15 for _ in range(4)]
            if cbp_chroma == 2:
                for blk in range(4):
                    bx = 2 * mbx + blk % 2
                    by = 2 * mby + blk // 2
                    nc = nc_of(grid, bx, by, 2)
                    cac[blk] = ent.block("cac", nc, 15, (ci, bx, by))
                    grid[by][bx] = sum(1 for v in cac[blk] if v)
            else:
                for blk in range(4):
                    grid[2 * mby + blk // 2][2 * mbx + blk % 2] = 0
            cout = [[0] * 8 for _ in range(8)]
            for blk in range(4):
                ox, oy = 4 * (blk % 2), 4 * (blk // 2)
                d = [[0] * 4 for _ in range(4)]
                d[0][0] = cdc[blk // 2][blk % 2]
                for k, (i, j) in enumerate(_ZIG4[1:]):
                    cval = cac[blk][k]
                    if cval:
                        d[i][j] = dq_ac(cval, qc, i, j, midx)
                res = _itrans4(d)
                for yy in range(4):
                    for xx in range(4):
                        cout[oy + yy][ox + xx] = _clip8(
                            cpred[oy + yy][ox + xx]
                            + ((res[yy][xx] + 32) >> 6)
                        )
            plane.put(cx0, cy0, cout)

    def mark_intra_mvs(mbx: int, mby: int) -> None:
        for by in range(4 * mby, 4 * mby + 4):
            for bx in range(4 * mbx, 4 * mbx + 4):
                mv_g[by][bx] = (0, 0, -1)
                mv_g1[by][bx] = (0, 0, -1)
                mv_refpoc[by][bx] = None
                mv_refpoc1[by][bx] = None

    def decode_skip(mb: int) -> None:
        """P_Skip: predictor MV against ref 0, no residual."""
        mbx, mby = mb % wm, mb // wm
        mb_slice[mby][mbx] = cur_slice
        if not refs:
            raise ValueError("P slice with an empty reference list")
        a = mvinfo(4 * mbx - 1, 4 * mby)
        b = mvinfo(4 * mbx, 4 * mby - 1)
        if (a is None or b is None
                or a == (0, 0, 0) or b == (0, 0, 0)):
            mv = (0, 0)
        else:
            mv = mv_pred(4 * mbx, 4 * mby, 4, 0)
        set_mv(mbx, mby, 0, 0, 16, 16, (mv[0], mv[1], 0))
        yblk = mc_luma(mbx, mby, 0, 0, 16, 16, mv[0], mv[1], 0)
        cbp_, crp_ = mc_chroma(mbx, mby, mv[0], mv[1], 0)
        if p_weights is not None:
            # spec 8.4.2.3: P_Skip is an inter prediction with
            # refIdxL0=0 — explicit weights apply to it exactly as to
            # coded P MBs (fades are skip-heavy; bypassing weighting
            # here decodes silently wrong and deblock compounds it)
            wv, ov = p_weights["l0"][0]
            yblk = _wp_uni(yblk, wv, ov, p_weights["lwd"])
            (cbw, cbo), (crw, cro) = p_weights["c0"][0]
            cbp_ = _wp_uni(cbp_, cbw, cbo, p_weights["cwd"])
            crp_ = _wp_uni(crp_, crw, cro, p_weights["cwd"])
        y_plane.put(16 * mbx, 16 * mby, yblk)
        cb_plane.put(8 * mbx, 8 * mby, cbp_)
        cr_plane.put(8 * mbx, 8 * mby, crp_)
        for by in range(4 * mby, 4 * mby + 4):
            for bx in range(4 * mbx, 4 * mbx + 4):
                luma_nc[by][bx] = 0
        for grid in (cb_nc, cr_nc):
            for by in range(2 * mby, 2 * mby + 2):
                for bx in range(2 * mbx, 2 * mbx + 2):
                    grid[by][bx] = 0
        mb_qp_g[mby][mbx] = qp

    def decode_inter_mb(mb: int, mb_type: int, num_ref: int) -> None:
        nonlocal qp
        mbx, mby = mb % wm, mb // wm
        t8_ok = True
        if not refs:
            raise ValueError("P slice with an empty reference list")
        # te(v) bit-width is governed by the DECLARED
        # num_ref_idx_l0_active (slice header / PPS), not by how full
        # the decoder's DPB happens to be — parsing must not depend on
        # decoder state or a frame-gap stream desyncs. The resulting
        # index is validated against the DPB below (ref >= len(refs)).
        nref = num_ref
        if mb_type in (3, 4):
            # P_8x8 / P_8x8ref0: four quadrants, each sub-partitioned
            # 8x8/8x4/4x8/4x4 (sub_mb_type 0..3); syntax groups all
            # sub_mb_types, then the per-quadrant ref indices, then
            # every sub-partition's mvd. Median MV prediction only
            # (the directional rules are MB-partition-specific).
            subs = [ent.sub_mb_type() for _ in range(4)]
            if any(s > 3 for s in subs):
                raise ValueError("sub_mb_type out of range in P slice")
            t8_ok = all(s == 0 for s in subs)   # all parts 8x8
            if mb_type == 4:   # P_8x8ref0: refs fixed at 0, no bits
                refs8 = [0, 0, 0, 0]
            else:
                refs8 = [ent.ref_idx(nref, mbx, mby, 8 * (q % 2),
                                     8 * (q // 2), 8, 8)
                         for q in range(4)]
            sub_shapes = ((8, 8), (8, 4), (4, 8), (4, 4))
            parts = []
            ref_idx = []
            for q in range(4):
                qx, qy = 8 * (q % 2), 8 * (q // 2)
                sw, sh = sub_shapes[subs[q]]
                for sy in range(0, 8, sh):
                    for sx in range(0, 8, sw):
                        parts.append((qx + sx, qy + sy, sw, sh, None))
                        ref_idx.append(refs8[q])
        else:
            if mb_type == 0:
                parts = [(0, 0, 16, 16, None)]
            elif mb_type == 1:  # 16x8: top predicts from B, bottom A
                parts = [(0, 0, 16, 8, "B"), (0, 8, 16, 8, "A")]
            else:               # 8x16: left predicts from A, right C
                parts = [(0, 0, 8, 16, "A"), (8, 0, 8, 16, "C")]
            ref_idx = [ent.ref_idx(nref, mbx, mby, px, py, pw, ph)
                       for px, py, pw, ph, _d in parts]
        mvds = [ent.mvd(mbx, mby, px, py, pw, ph)
                for px, py, pw, ph, _d in parts]
        pred16 = [[0] * 16 for _ in range(16)]
        mvs = []
        for (px, py, pw, ph, direc), ref, (mdx, mdy) in zip(
                parts, ref_idx, mvds):
            if ref >= len(refs_l0):
                raise ValueError(f"ref_idx {ref} beyond the DPB")
            bx0 = (16 * mbx + px) // 4
            by0 = (16 * mby + py) // 4
            mpx, mpy = mv_pred(bx0, by0, pw // 4, ref, direc)
            mvx, mvy = mpx + mdx, mpy + mdy
            set_mv(mbx, mby, px, py, pw, ph, (mvx, mvy, ref))
            blkp = mc_luma(mbx, mby, px, py, pw, ph, mvx, mvy, ref)
            if p_weights is not None:
                wv, ov = p_weights["l0"][ref]
                blkp = _wp_uni(blkp, wv, ov, p_weights["lwd"])
            for yy in range(ph):
                pred16[py + yy][px: px + pw] = blkp[yy]
            mvs.append((px, py, pw, ph, mvx, mvy, ref))
        # chroma prediction per partition (same MV, eighth-pel)
        cpredb = [[0] * 8 for _ in range(8)]
        cpredr = [[0] * 8 for _ in range(8)]
        for px, py, pw, ph, mvx, mvy, ref in mvs:
            cb_blk = _interp_chroma(refs_l0[ref][1],
                                    8 * mbx + px // 2,
                                    8 * mby + py // 2, pw // 2, ph // 2,
                                    mvx, mvy)
            cr_blk = _interp_chroma(refs_l0[ref][2],
                                    8 * mbx + px // 2,
                                    8 * mby + py // 2, pw // 2, ph // 2,
                                    mvx, mvy)
            if p_weights is not None:
                (cbw, cbo), (crw, cro) = p_weights["c0"][ref]
                cb_blk = _wp_uni(cb_blk, cbw, cbo, p_weights["cwd"])
                cr_blk = _wp_uni(cr_blk, crw, cro, p_weights["cwd"])
            for yy in range(ph // 2):
                cpredb[py // 2 + yy][px // 2: px // 2 + pw // 2] = \
                    cb_blk[yy]
                cpredr[py // 2 + yy][px // 2: px // 2 + pw // 2] = \
                    cr_blk[yy]

        inter_residual(mbx, mby, pred16, cpredb, cpredr,
                       t8_ok=t8_ok)

    def inter_residual(mbx, mby, pred16, cpredb, cpredr,
                       t8_ok: bool = True) -> None:
        """Shared inter tail (P r9, B r10): cbp + optional
        transform_size_8x8_flag (High, r12 — between cbp and
        qp_delta per 7.3.5) + qp_delta + luma residual blocks over
        the motion-compensated prediction, then chroma against the
        given predictions. ``t8_ok`` = the caller's
        noSubMbPartSizeLessThan8x8 / direct-inference condition."""
        nonlocal qp
        cbp = ent.cbp(mbx, mby, intra=False)
        cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
        if cbp_chroma == 3:
            raise ValueError("cbp chroma component must be 0..2")
        t8 = False
        if t8_allowed and cbp_luma and t8_ok:
            t8 = bool(ent.t8_flag(mbx, mby))
            mb_t8[mby][mbx] = t8
        if cbp:
            qp = (qp + ent.qp_delta()) % 52
        if t8:
            out16 = [row[:] for row in pred16]
            for b8 in range(4):
                ox, oy = 8 * (b8 % 2), 8 * (b8 // 2)
                bx = (16 * mbx + ox) // 4
                by = (16 * mby + oy) // 4
                if cbp_luma & (1 << b8):
                    res = luma8x8_residual(mbx, mby, b8, qp, False)
                    for yy in range(8):
                        for xx in range(8):
                            out16[oy + yy][ox + xx] = _clip8(
                                pred16[oy + yy][ox + xx]
                                + ((res[yy][xx] + 32) >> 6))
                else:
                    for sub in range(4):
                        luma_nc[by + sub // 2][bx + sub % 2] = 0
                    for yy in range(8):
                        for xx in range(8):
                            out16[oy + yy][ox + xx] = _clip8(
                                pred16[oy + yy][ox + xx])
            y_plane.put(16 * mbx, 16 * mby, out16)
            decode_chroma(mbx, mby, 0, cbp_chroma, qp,
                          preds=(cpredb, cpredr))
            return
        qdiv, qmod = qp // 6, qp % 6
        out16 = [row[:] for row in pred16]
        for blk in range(16):
            ox, oy = _BLK4_XY[blk]
            bx = (16 * mbx + ox) // 4
            by = (16 * mby + oy) // 4
            if cbp_luma & (1 << (blk // 4)):
                scan = ent.block("l4", nc_of(luma_nc, bx, by, 4), 16,
                                 (bx, by))
                luma_nc[by][bx] = sum(1 for v in scan if v)
                d = [[0] * 4 for _ in range(4)]
                for k, (i, j) in enumerate(_ZIG4):
                    c = scan[k]
                    if c:
                        d[i][j] = dq_ac(c, qp, i, j, 3)
                res = _itrans4(d)
                for yy in range(4):
                    for xx in range(4):
                        out16[oy + yy][ox + xx] = _clip8(
                            pred16[oy + yy][ox + xx]
                            + ((res[yy][xx] + 32) >> 6))
            else:
                luma_nc[by][bx] = 0
                for yy in range(4):
                    for xx in range(4):
                        out16[oy + yy][ox + xx] = _clip8(
                            pred16[oy + yy][ox + xx])
        y_plane.put(16 * mbx, 16 * mby, out16)
        decode_chroma(mbx, mby, 0, cbp_chroma, qp,
                      preds=(cpredb, cpredr))

    # ---- B slices (r10): bi-prediction, spatial direct, weighting

    #: per-slice B context: {"l0", "l1" (poc-ordered ref lists of DPB
    #: entries), "w" (pred_weight_table dict or None), "nref0/1"}
    b_ctx: dict = {}

    def _b_pred_block(px, py, pw, ph, mbx, mby, use0, use1,
                      mv0, mv1, r0, r1):
        """Luma+chroma prediction for one B partition: uni (possibly
        weighted) or bi (averaged / explicitly weighted)."""
        w = b_ctx["w"]

        def fetch(lst, ref, mvx, mvy):
            if ref >= len(lst):
                raise ValueError(f"B ref_idx {ref} beyond the list")
            e = lst[ref]
            luma = _interp_luma(e[0], 16 * mbx + px, 16 * mby + py,
                                pw, ph, mvx, mvy)
            cb = _interp_chroma(e[1], 8 * mbx + px // 2,
                                8 * mby + py // 2, pw // 2, ph // 2,
                                mvx, mvy)
            cr = _interp_chroma(e[2], 8 * mbx + px // 2,
                                8 * mby + py // 2, pw // 2, ph // 2,
                                mvx, mvy)
            return luma, cb, cr

        if use0 and use1:
            y0, cb0, cr0 = fetch(b_ctx["l0"], r0, *mv0)
            y1, cb1, cr1 = fetch(b_ctx["l1"], r1, *mv1)
            if b_ctx.get("implicit"):
                # idc=2: POC-distance weights per (r0, r1) pair, logWD
                # 5, zero offsets, SAME weights for luma and chroma;
                # uni-predicted partitions stay unweighted (8.4.2.3)
                iw0, iw1 = _implicit_weights(
                    b_ctx["poc"], b_ctx["l0"][r0][3],
                    b_ctx["l1"][r1][3])
                return (_wp_bi(y0, y1, iw0, 0, iw1, 0, 5),
                        _wp_bi(cb0, cb1, iw0, 0, iw1, 0, 5),
                        _wp_bi(cr0, cr1, iw0, 0, iw1, 0, 5))
            if w is None:
                return (_bi_avg(y0, y1), _bi_avg(cb0, cb1),
                        _bi_avg(cr0, cr1))
            (w0, o0), (w1, o1) = w["l0"][r0], w["l1"][r1]
            y = _wp_bi(y0, y1, w0, o0, w1, o1, w["lwd"])
            (cbw0, cbo0), (crw0, cro0) = w["c0"][r0]
            (cbw1, cbo1), (crw1, cro1) = w["c1"][r1]
            cb = _wp_bi(cb0, cb1, cbw0, cbo0, cbw1, cbo1, w["cwd"])
            cr = _wp_bi(cr0, cr1, crw0, cro0, crw1, cro1, w["cwd"])
            return y, cb, cr
        lst, ref, mv, wl, wc = ((b_ctx["l0"], r0, mv0, "l0", "c0")
                                if use0 else
                                (b_ctx["l1"], r1, mv1, "l1", "c1"))
        y, cb, cr = fetch(lst, ref, *mv)
        if w is not None:
            wv, ov = w[wl][ref]
            y = _wp_uni(y, wv, ov, w["lwd"])
            (cbw, cbo), (crw, cro) = w[wc][ref]
            cb = _wp_uni(cb, cbw, cbo, w["cwd"])
            cr = _wp_uni(cr, crw, cro, w["cwd"])
        return y, cb, cr

    def _spatial_direct_mb(mbx, mby):
        """Spatial direct derivation (8.4.1.2.2) at MB level:
        MinPositive reference indices + median MV predictors per
        list; per-block colZeroFlag zeroing happens in the caller."""
        bx0, by0 = 4 * mbx, 4 * mby

        def minpos(getmv):
            a = getmv(bx0 - 1, by0)
            b = getmv(bx0, by0 - 1)
            c = getmv(bx0 + 4, by0 - 1)
            if c is None:
                c = getmv(bx0 - 1, by0 - 1)
            rs = [m[2] for m in (a, b, c)
                  if m is not None and m[2] >= 0]
            return min(rs) if rs else -1

        r0 = minpos(mvinfo)
        r1 = minpos(mvinfo1)
        zero_pred = r0 < 0 and r1 < 0
        if zero_pred:
            r0 = r1 = 0
        mvp0 = (_mv_predict(mvinfo, bx0, by0, 4, r0)
                if r0 >= 0 else (0, 0))
        mvp1 = (_mv_predict(mvinfo1, bx0, by0, 4, r1)
                if r1 >= 0 else (0, 0))
        return r0, r1, mvp0, mvp1, zero_pred

    def _col_zero(bx, by):
        """colZeroFlag: the colocated 4x4 block of RefPicList1[0] is
        ref-0 with both MV components in [-1, 1] quarter-pel (the
        caller already mapped 8x8-inference corners)."""
        e = b_ctx["l1"][0]
        if _entry_lt(e) is not None:
            return False   # long-term colocated picture (8.4.1.2.2)
        mvf = e[4] if len(e) > 4 else None
        if mvf is None:
            return False
        cm = mvf[by][bx]
        if (cm is not None and cm[2] < 0 and len(e) > 6
                and e[6] is not None):
            # L1-only colocated block: refIdxCol/mvCol come from L1
            cm1 = e[6][by][bx]
            if cm1 is not None and cm1[2] >= 0:
                cm = cm1
        return (cm is not None and cm[2] == 0
                and -1 <= cm[0] <= 1 and -1 <= cm[1] <= 1)

    def _temporal_direct_block(cbx, cby):
        """Temporal direct derivation (8.4.1.2.3) for ONE colocated
        4x4 block of RefPicList1[0]: map the colocated reference into
        the current RefPicList0 by POC, then scale the colocated MV by
        the POC-distance ratio. Intra/unavailable colocated blocks
        carry the zero MV against RefPicList0[0], per 8.4.1.2.2."""
        e = b_ctx["l1"][0]
        mvf = e[4] if len(e) > 4 else None
        pocf = e[5] if len(e) > 5 else None
        cm = mvf[cby][cbx] if mvf is not None else None
        colpoc = pocf[cby][cbx] if (cm is not None and cm[2] >= 0
                                    and pocf is not None) else None
        if cm is not None and cm[2] < 0 and len(e) > 6:
            # colocated block predicted L1-only (a B picture used as
            # reference): 8.4.1.2.1 takes its L1 motion instead of
            # treating the block as intra
            mvf1, pocf1 = e[6], e[7] if len(e) > 7 else None
            cm1 = mvf1[cby][cbx] if mvf1 is not None else None
            if cm1 is not None and cm1[2] >= 0:
                cm = cm1
                colpoc = (pocf1[cby][cbx] if pocf1 is not None
                          else None)
        if cm is None or cm[2] < 0:
            mvcol, r0 = (0, 0), 0
        else:
            mvcol = (cm[0], cm[1])
            r0 = next((i for i, le in enumerate(b_ctx["l0"])
                       if len(le) > 3 and le[3] == colpoc), None)
            if colpoc is None or r0 is None:
                raise ValueError(
                    "temporal direct: colocated block's reference "
                    "picture is not in the current RefPicList0")
        if _entry_lt(b_ctx["l0"][r0]) is not None:
            # long-term L0 reference (8.4.1.2.3): the POC-distance
            # ratio is undefined — mvL0 = mvCol, mvL1 = 0
            return r0, mvcol, (0, 0)
        mv0, mv1 = _temporal_mv_scale(
            b_ctx["poc"], b_ctx["l0"][r0][3], b_ctx["l1"][0][3],
            mvcol)
        return r0, mv0, mv1

    def _direct_part(mbx, mby, px, py, pw, ph, derived):
        """One direct(-skip) region: per-4x4 (or per-8x8-corner with
        direct_8x8_inference) derivation, grid updates, and the
        combined prediction written into pred16/cpreds. ``derived`` is
        the MB-level spatial derivation, or None for temporal direct
        (fully per-block: each block scales its OWN colocated MV)."""
        temporal = derived is None
        if not temporal:
            r0, r1, mvp0, mvp1, zero_pred = derived
            use0, use1 = r0 >= 0, r1 >= 0
        pred16, cpredb, cpredr = ([[0] * pw for _ in range(ph)],
                                  [[0] * (pw // 2)
                                   for _ in range(ph // 2)],
                                  [[0] * (pw // 2)
                                   for _ in range(ph // 2)])
        infer = bool(sps.get("direct_8x8"))
        step = 8 if infer else 4
        for sy in range(0, ph, step):
            for sx in range(0, pw, step):
                bx = (16 * mbx + px + sx) // 4
                by = (16 * mby + py + sy) // 4
                if infer:
                    # colocated = the 8x8's outer-corner 4x4 of the MB
                    cbx = 4 * mbx + (3 if (px + sx) >= 8 else 0)
                    cby = 4 * mby + (3 if (py + sy) >= 8 else 0)
                else:
                    cbx, cby = bx, by
                if temporal:
                    # both lists always predict in temporal direct
                    r0, mv0, mv1 = _temporal_direct_block(cbx, cby)
                    r1 = 0
                    use0 = use1 = True
                else:
                    cz = (not zero_pred) and _col_zero(cbx, cby)
                    mv0 = ((0, 0) if zero_pred or (cz and r0 == 0)
                           else mvp0)
                    mv1 = ((0, 0) if zero_pred or (cz and r1 == 0)
                           else mvp1)
                sw = min(step, pw - sx)
                sh = min(step, ph - sy)
                set_mv(mbx, mby, px + sx, py + sy, sw, sh,
                       (mv0[0], mv0[1], r0) if use0 else (0, 0, -1))
                set_mv(mbx, mby, px + sx, py + sy, sw, sh,
                       (mv1[0], mv1[1], r1) if use1 else (0, 0, -1),
                       grid=mv_g1)
                yb, cbb, crb = _b_pred_block(
                    px + sx, py + sy, sw, sh, mbx, mby,
                    use0, use1, mv0, mv1, max(r0, 0), max(r1, 0))
                for yy in range(sh):
                    pred16[sy + yy][sx: sx + sw] = yb[yy]
                for yy in range(sh // 2):
                    cpredb[sy // 2 + yy][
                        sx // 2: sx // 2 + sw // 2] = cbb[yy]
                    cpredr[sy // 2 + yy][
                        sx // 2: sx // 2 + sw // 2] = crb[yy]
        return pred16, cpredb, cpredr

    def decode_skip_b(mb: int) -> None:
        """B_Skip: direct prediction (spatial or temporal per the
        slice header flag), no residual."""
        mbx, mby = mb % wm, mb // wm
        mb_slice[mby][mbx] = cur_slice
        derived = (_spatial_direct_mb(mbx, mby)
                   if b_ctx["spatial"] else None)
        pred16, cpredb, cpredr = _direct_part(mbx, mby, 0, 0, 16, 16,
                                              derived)
        y_plane.put(16 * mbx, 16 * mby, pred16)
        cb_plane.put(8 * mbx, 8 * mby, cpredb)
        cr_plane.put(8 * mbx, 8 * mby, cpredr)
        for by in range(4 * mby, 4 * mby + 4):
            for bx in range(4 * mbx, 4 * mbx + 4):
                luma_nc[by][bx] = 0
        for grid in (cb_nc, cr_nc):
            for by in range(2 * mby, 2 * mby + 2):
                for bx in range(2 * mbx, 2 * mbx + 2):
                    grid[by][bx] = 0
        mb_qp_g[mby][mbx] = qp

    #: B mb_type 4..21 (two-partition shapes): (pred0, pred1) pairs in
    #: Table 7-14 order; each pair spans an even (16x8) and odd (8x16)
    #: mb_type
    _B_PAIRS = (((1, 0), (1, 0)), ((0, 1), (0, 1)), ((1, 0), (0, 1)),
                ((0, 1), (1, 0)), ((1, 0), (1, 1)), ((0, 1), (1, 1)),
                ((1, 1), (1, 0)), ((1, 1), (0, 1)), ((1, 1), (1, 1)))
    #: B sub_mb_type 1..12: (w, h, (use0, use1)); 0 = B_Direct_8x8
    _B_SUBS = (None, (8, 8, (1, 0)), (8, 8, (0, 1)), (8, 8, (1, 1)),
               (8, 4, (1, 0)), (4, 8, (1, 0)), (8, 4, (0, 1)),
               (4, 8, (0, 1)), (8, 4, (1, 1)), (4, 8, (1, 1)),
               (4, 4, (1, 0)), (4, 4, (0, 1)), (4, 4, (1, 1)))

    def decode_b_mb(mb: int, mb_type: int) -> None:
        """B macroblock (r10): B_Direct_16x16, the 16x16/16x8/8x16
        L0/L1/Bi shapes, and B_8x8 sub-partitions (incl. direct 8x8),
        followed by the shared inter residual."""
        mbx, mby = mb % wm, mb // wm
        if not b_ctx["l0"] or not b_ctx["l1"]:
            raise ValueError("B slice with an empty reference list")
        nref0, nref1 = b_ctx["nref0"], b_ctx["nref1"]
        pred16 = [[0] * 16 for _ in range(16)]
        cpredb = [[0] * 8 for _ in range(8)]
        cpredr = [[0] * 8 for _ in range(8)]

        def place(px, py, pw, ph, yb, cbb, crb):
            for yy in range(ph):
                pred16[py + yy][px: px + pw] = yb[yy]
            for yy in range(ph // 2):
                cpredb[py // 2 + yy][px // 2: px // 2 + pw // 2] = \
                    cbb[yy]
                cpredr[py // 2 + yy][px // 2: px // 2 + pw // 2] = \
                    crb[yy]

        if mb_type == 0:        # B_Direct_16x16
            derived = (_spatial_direct_mb(mbx, mby)
                       if b_ctx["spatial"] else None)
            p16, cbb, crb = _direct_part(mbx, mby, 0, 0, 16, 16,
                                         derived)
            place(0, 0, 16, 16, p16, cbb, crb)
            inter_residual(mbx, mby, pred16, cpredb, cpredr,
                           t8_ok=bool(sps.get("direct_8x8")))
            return
        if mb_type == 22:       # B_8x8
            subs = [ent.sub_mb_type() for _ in range(4)]
            if any(s > 12 for s in subs):
                raise ValueError("B sub_mb_type out of range")
            quads = [(8 * (q % 2), 8 * (q // 2)) for q in range(4)]
            refs0, refs1 = {}, {}
            for q, s in enumerate(subs):
                if s and _B_SUBS[s][2][0]:
                    refs0[q] = ent.ref_idx(nref0, mbx, mby,
                                           *quads[q], 8, 8)
            for q, s in enumerate(subs):
                if s and _B_SUBS[s][2][1]:
                    refs1[q] = ent.ref_idx(nref1, mbx, mby,
                                           *quads[q], 8, 8, lst=1)
            # all list-0 mvds (per sub-partition), then all list-1
            parts = []      # (q, px, py, sw, sh, use0, use1)
            for q, s in enumerate(subs):
                qx, qy = quads[q]
                if s == 0:
                    parts.append((q, qx, qy, 8, 8, None, None))
                    continue
                sw, sh, (u0, u1) = _B_SUBS[s]
                for sy in range(0, 8, sh):
                    for sx in range(0, 8, sw):
                        parts.append((q, qx + sx, qy + sy, sw, sh,
                                      u0, u1))
            mvd0 = {}
            for i, (q, px, py, sw, sh, u0, u1) in enumerate(parts):
                if u0:
                    mvd0[i] = ent.mvd(mbx, mby, px, py, sw, sh)
            mvd1 = {}
            for i, (q, px, py, sw, sh, u0, u1) in enumerate(parts):
                if u1:
                    mvd1[i] = ent.mvd(mbx, mby, px, py, sw, sh,
                                      lst=1)
            derived = "unset"
            for i, (q, px, py, sw, sh, u0, u1) in enumerate(parts):
                if u0 is None:   # B_Direct_8x8
                    if derived == "unset":
                        derived = (_spatial_direct_mb(mbx, mby)
                                   if b_ctx["spatial"] else None)
                    p8, cb8, cr8 = _direct_part(mbx, mby, px, py,
                                                8, 8, derived)
                    place(px, py, 8, 8, p8, cb8, cr8)
                    continue
                r0 = refs0.get(q, 0)
                r1 = refs1.get(q, 0)
                bx0 = (16 * mbx + px) // 4
                by0 = (16 * mby + py) // 4
                mv0 = mv1 = (0, 0)
                if u0:
                    mpx, mpy = _mv_predict(mvinfo, bx0, by0,
                                           sw // 4, r0)
                    dx, dy = mvd0[i]
                    mv0 = (mpx + dx, mpy + dy)
                if u1:
                    mpx, mpy = _mv_predict(mvinfo1, bx0, by0,
                                           sw // 4, r1)
                    dx, dy = mvd1[i]
                    mv1 = (mpx + dx, mpy + dy)
                set_mv(mbx, mby, px, py, sw, sh,
                       (mv0[0], mv0[1], r0) if u0 else (0, 0, -1))
                set_mv(mbx, mby, px, py, sw, sh,
                       (mv1[0], mv1[1], r1) if u1 else (0, 0, -1),
                       grid=mv_g1)
                yb, cbb, crb = _b_pred_block(px, py, sw, sh, mbx,
                                             mby, u0, u1, mv0, mv1,
                                             r0, r1)
                place(px, py, sw, sh, yb, cbb, crb)
            inter_residual(
                mbx, mby, pred16, cpredb, cpredr,
                t8_ok=all(
                    (_B_SUBS[s][:2] == (8, 8) if s
                     else bool(sps.get("direct_8x8")))
                    for s in subs))
            return
        # one- and two-partition shapes (mb_type 1..21)
        if mb_type <= 3:
            shapes = [(0, 0, 16, 16)]
            preds = [((1, 0), (0, 1), (1, 1))[mb_type - 1]]
        else:
            k = mb_type - 4
            pair = _B_PAIRS[k // 2]
            if k % 2 == 0:
                shapes = [(0, 0, 16, 8), (0, 8, 16, 8)]
            else:
                shapes = [(0, 0, 8, 16), (8, 0, 8, 16)]
            preds = list(pair)
        refs0 = [ent.ref_idx(nref0, mbx, mby, *sh)
                 if preds[i][0] else 0
                 for i, sh in enumerate(shapes)]
        refs1 = [ent.ref_idx(nref1, mbx, mby, *sh, lst=1)
                 if preds[i][1] else 0
                 for i, sh in enumerate(shapes)]
        mvds0 = [ent.mvd(mbx, mby, *sh) if preds[i][0] else (0, 0)
                 for i, sh in enumerate(shapes)]
        mvds1 = [ent.mvd(mbx, mby, *sh, lst=1)
                 if preds[i][1] else (0, 0)
                 for i, sh in enumerate(shapes)]
        for i, (px, py, pw, ph) in enumerate(shapes):
            u0, u1 = preds[i]
            bx0 = (16 * mbx + px) // 4
            by0 = (16 * mby + py) // 4
            mv0 = mv1 = (0, 0)
            if u0:
                mpx, mpy = _mv_predict(mvinfo, bx0, by0, pw // 4,
                                       refs0[i])
                mv0 = (mpx + mvds0[i][0], mpy + mvds0[i][1])
            if u1:
                mpx, mpy = _mv_predict(mvinfo1, bx0, by0, pw // 4,
                                       refs1[i])
                mv1 = (mpx + mvds1[i][0], mpy + mvds1[i][1])
            set_mv(mbx, mby, px, py, pw, ph,
                   (mv0[0], mv0[1], refs0[i]) if u0 else (0, 0, -1))
            set_mv(mbx, mby, px, py, pw, ph,
                   (mv1[0], mv1[1], refs1[i]) if u1 else (0, 0, -1),
                   grid=mv_g1)
            yb, cbb, crb = _b_pred_block(px, py, pw, ph, mbx, mby,
                                         u0, u1, mv0, mv1,
                                         refs0[i], refs1[i])
            place(px, py, pw, ph, yb, cbb, crb)
        inter_residual(mbx, mby, pred16, cpredb, cpredr)

    def decode_mb(mb: int, is_p: bool = False, num_ref: int = 1,
                  is_b: bool = False) -> None:
        nonlocal qp
        mbx, mby = mb % wm, mb // wm
        mb_slice[mby][mbx] = cur_slice
        mb_type = ent.mb_type(mbx, mby,
                              "b" if is_b else ("p" if is_p else "i"))
        if is_b:
            if mb_type < 23:
                decode_b_mb(mb, mb_type)
                return
            mb_type -= 23  # intra macroblock inside a B slice
            mark_intra_mvs(mbx, mby)
        elif is_p:
            if mb_type < 5:
                decode_inter_mb(mb, mb_type, num_ref)
                return
            mb_type -= 5  # intra macroblock inside a P slice
            mark_intra_mvs(mbx, mby)
        if mb_type == 25:  # I_PCM — table-free
            mb_ipcm[mby][mbx] = True
            mark_intra_mvs(mbx, mby)
            blk, cb8, cr8 = ent.ipcm_samples()
            y_plane.put(16 * mbx, 16 * mby, blk)
            cb_plane.put(8 * mbx, 8 * mby, cb8)
            cr_plane.put(8 * mbx, 8 * mby, cr8)
            for by in range(4 * mby, 4 * mby + 4):
                for bx in range(4 * mbx, 4 * mbx + 4):
                    luma_nc[by][bx] = 16
            for grid in (cb_nc, cr_nc):
                for by in range(2 * mby, 2 * mby + 2):
                    for bx in range(2 * mbx, 2 * mbx + 2):
                        grid[by][bx] = 16
            return
        if mb_type == 0 and t8_allowed and ent.t8_flag(mbx, mby):
            # ---- Intra_8x8 (High profile, r12) ----
            mb_t8[mby][mbx] = True
            modes = []
            for b8 in range(4):
                cx, cy = 2 * (b8 % 2), 2 * (b8 // 2)
                bx, by = 4 * mbx + cx, 4 * mby + cy
                availA = cx > 0 or mb_avail(mbx - 1, mby)
                availB = cy > 0 or mb_avail(mbx, mby - 1)
                if not (availA and availB):
                    predm = 2   # unavailable neighbor forces DC
                else:
                    ma = (i4_modes[by][bx - 1]
                          if mb_i4[by // 4][(bx - 1) // 4] else 2)
                    mb_ = (i4_modes[by - 1][bx]
                           if mb_i4[(by - 1) // 4][bx // 4] else 2)
                    predm = min(ma, mb_)
                flag, rem = ent.i4_mode()
                m8 = predm if flag else (rem if rem < predm
                                         else rem + 1)
                modes.append(m8)
                # the 8x8 mode covers its four 4x4 cells so 4x4/8x8
                # neighbors predict from it uniformly (8.3.2.1)
                for yy in range(2):
                    for xx in range(2):
                        i4_modes[by + yy][bx + xx] = m8
            mb_i4[mby][mbx] = True
            chroma_mode = ent.chroma_mode(mbx, mby)
            cbp = ent.cbp(mbx, mby, intra=True)
            cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
            if cbp_chroma == 3:
                raise ValueError("cbp chroma component must be 0..2")
            if cbp:
                qp = (qp + ent.qp_delta()) % 52
            for b8 in range(4):
                ox, oy = 8 * (b8 % 2), 8 * (b8 // 2)
                gx, gy = 16 * mbx + ox, 16 * mby + oy
                bx, by = gx // 4, gy // 4
                first = 4 * b8   # coding index of the quadrant's
                up_ok = blk_decoded(bx, by - 1, mb, first)
                lf_ok = blk_decoded(bx - 1, by, mb, first)
                tl_ok = blk_decoded(bx - 1, by - 1, mb, first)
                tr_ok = blk_decoded(bx + 2, by - 1, mb, first)
                top = y_plane.row(gx, gy - 1, 8) if up_ok else None
                left = y_plane.col(gx - 1, gy, 8) if lf_ok else None
                tl = (y_plane.px[(gy - 1) * y_plane.w + gx - 1]
                      if tl_ok else None)
                tr = (y_plane.row(gx + 8, gy - 1, 8)
                      if tr_ok else None)
                pred = _pred8(modes[b8], top, left, tl, tr)
                if cbp_luma & (1 << b8):
                    res = luma8x8_residual(mbx, mby, b8, qp, True)
                    blk_out = [
                        [_clip8(pred[yy][xx]
                                + ((res[yy][xx] + 32) >> 6))
                         for xx in range(8)] for yy in range(8)]
                else:
                    for sub in range(4):
                        luma_nc[by + sub // 2][bx + sub % 2] = 0
                    blk_out = pred
                y_plane.put(gx, gy, blk_out)
            decode_chroma(mbx, mby, chroma_mode, cbp_chroma, qp)
            return
        if mb_type == 0:
            # ---- Intra_4x4 (r9) ----
            modes = []
            for blk in range(16):
                bx = 4 * mbx + _BLK4_XY[blk][0] // 4
                by = 4 * mby + _BLK4_XY[blk][1] // 4
                in_mb_left = bx % 4 > 0
                in_mb_up = by % 4 > 0
                availA = in_mb_left or mb_avail(bx // 4 - 1, mby)
                availB = in_mb_up or mb_avail(mbx, by // 4 - 1)
                if not (availA and availB):
                    predm = 2  # spec: any unavailable neighbor forces DC
                else:
                    ma = (i4_modes[by][bx - 1]
                          if mb_i4[by // 4][(bx - 1) // 4] else 2)
                    mb_ = (i4_modes[by - 1][bx]
                           if mb_i4[(by - 1) // 4][bx // 4] else 2)
                    predm = min(ma, mb_)
                flag, rem = ent.i4_mode()
                if flag:    # prev_intra4x4_pred_mode_flag
                    m4 = predm
                else:
                    m4 = rem if rem < predm else rem + 1
                modes.append(m4)
                i4_modes[by][bx] = m4
            mb_i4[mby][mbx] = True
            chroma_mode = ent.chroma_mode(mbx, mby)
            cbp = ent.cbp(mbx, mby, intra=True)
            cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
            if cbp_chroma == 3:
                raise ValueError("cbp chroma component must be 0..2")
            if cbp:
                qp = (qp + ent.qp_delta()) % 52
            qdiv, qmod = qp // 6, qp % 6
            for blk in range(16):
                ox, oy = _BLK4_XY[blk]
                gx, gy = 16 * mbx + ox, 16 * mby + oy
                bx, by = gx // 4, gy // 4
                up_ok = blk_decoded(bx, by - 1, mb, blk)
                lf_ok = blk_decoded(bx - 1, by, mb, blk)
                tl_ok = blk_decoded(bx - 1, by - 1, mb, blk)
                top = y_plane.row(gx, gy - 1, 4) if up_ok else None
                left = y_plane.col(gx - 1, gy, 4) if lf_ok else None
                tl = (y_plane.px[(gy - 1) * y_plane.w + gx - 1]
                      if tl_ok else None)
                tr = (y_plane.row(gx + 4, gy - 1, 4)
                      if blk_decoded(bx + 1, by - 1, mb, blk) else None)
                pred = _pred4(modes[blk], top, left, tl, tr)
                if cbp_luma & (1 << (blk // 4)):
                    scan = ent.block("l4", nc_of(luma_nc, bx, by, 4),
                                     16, (bx, by))
                    luma_nc[by][bx] = sum(1 for v in scan if v)
                    d = [[0] * 4 for _ in range(4)]
                    for k, (i, j) in enumerate(_ZIG4):
                        c = scan[k]
                        if c:
                            d[i][j] = dq_ac(c, qp, i, j, 0)
                    res = _itrans4(d)
                    blk_out = [
                        [_clip8(pred[yy][xx] + ((res[yy][xx] + 32) >> 6))
                         for xx in range(4)] for yy in range(4)
                    ]
                else:
                    luma_nc[by][bx] = 0
                    blk_out = pred
                y_plane.put(gx, gy, blk_out)
            decode_chroma(mbx, mby, chroma_mode, cbp_chroma, qp)
            return
        if mb_type > 25:
            raise ValueError(f"mb_type {mb_type} invalid in an I slice")
        m = mb_type - 1
        pred_mode = m % 4
        rest = m // 4
        cbp_chroma = rest % 3
        cbp_luma = 15 if rest >= 3 else 0
        chroma_mode = ent.chroma_mode(mbx, mby)
        # mb_qp_delta wraps per spec arithmetic
        qp = (qp + ent.qp_delta()) % 52

        x0, y0 = 16 * mbx, 16 * mby
        up = mb_avail(mbx, mby - 1)
        lf = mb_avail(mbx - 1, mby)
        top = y_plane.row(x0, y0 - 1, 16) if up else None
        left = y_plane.col(x0 - 1, y0, 16) if lf else None
        tl = (y_plane.px[(y0 - 1) * y_plane.w + x0 - 1]
              if (up and lf) else None)
        pred = _pred16(pred_mode, top, left, tl)

        # luma DC block (always present for Intra_16x16)
        dc_nc = nc_of(luma_nc, 4 * mbx, 4 * mby, 4)
        dc_scan = ent.block("ldc", dc_nc, 16, (mbx, mby))
        dc = [[0] * 4 for _ in range(4)]
        for k, (i, j) in enumerate(_ZIG4):
            dc[i][j] = dc_scan[k]
        f = _hadamard4(dc)
        qdiv, qmod = qp // 6, qp % 6
        if sc4 is None:
            dcs = [[_dequant_luma_dc(f[i][j], qp) for j in range(4)]
                   for i in range(4)]
        else:
            dcs = [[_dq_luma_dc_w(f[i][j], qp, sc4[0][0])
                    for j in range(4)] for i in range(4)]

        ac_scans = [[0] * 16 for _ in range(16)]
        if cbp_luma:
            for blk in range(16):
                bx = 4 * mbx + _BLK4_XY[blk][0] // 4
                by = 4 * mby + _BLK4_XY[blk][1] // 4
                nc = nc_of(luma_nc, bx, by, 4)
                scan = ent.block("lac", nc, 15, (bx, by))
                ac_scans[blk] = scan
                luma_nc[by][bx] = sum(1 for v in scan if v)
        else:
            for blk in range(16):
                bx = 4 * mbx + _BLK4_XY[blk][0] // 4
                by = 4 * mby + _BLK4_XY[blk][1] // 4
                luma_nc[by][bx] = 0

        out16 = [[0] * 16 for _ in range(16)]
        for blk in range(16):
            ox, oy = _BLK4_XY[blk]
            d = [[0] * 4 for _ in range(4)]
            # DC from the Hadamard-transformed block: raster position
            d[0][0] = dcs[oy // 4][ox // 4]
            for k, (i, j) in enumerate(_ZIG4[1:]):
                c = ac_scans[blk][k]
                if c:
                    d[i][j] = dq_ac(c, qp, i, j, 0)
            res = _itrans4(d)
            for yy in range(4):
                for xx in range(4):
                    out16[oy + yy][ox + xx] = _clip8(
                        pred[oy + yy][ox + xx]
                        + ((res[yy][xx] + 32) >> 6)
                    )
        y_plane.put(x0, y0, out16)
        decode_chroma(mbx, mby, chroma_mode, cbp_chroma, qp)

    next_mb = 0
    has_inter = False
    for slice_id, (typ, ref_idc, rbsp) in enumerate(pic):
        cur_slice = slice_id
        r = _R(rbsp)
        hdr = _parse_slice_header(r, sps, pps, typ, ref_idc)
        qp = hdr["qp"]
        p_weights = hdr["weights"] if hdr["is_p"] else None
        slice_db.append((hdr["idc"], hdr["off_a"], hdr["off_b"]))
        if hdr["first_mb"] != next_mb:
            raise NotImplementedError(
                f"slice starts at MB {hdr['first_mb']}, expected "
                f"{next_mb} — out-of-order/FMO slices unsupported"
            )
        is_p = hdr["is_p"]
        is_b = hdr["is_b"]
        has_inter = has_inter or is_p or is_b
        if is_b:
            if not refs:
                raise ValueError("B slice with an empty DPB")
            shorts = [e for e in refs if _entry_lt(e) is None]
            lts = _lt_tail(refs)   # common long-term tail (8.2.4.2)
            past = sorted([e for e in shorts if e[3] <= cur_poc],
                          key=lambda e: -e[3])
            futr = sorted([e for e in shorts if e[3] > cur_poc],
                          key=lambda e: e[3])
            l0, l1 = past + futr + lts, futr + past + lts
            if (len(l1) > 1
                    and all(a is b for a, b in zip(l0, l1))):
                # spec RefPicList1 rule: identical lists swap the
                # first two entries
                l1 = [l1[1], l1[0]] + l1[2:]
            b_ctx.clear()
            b_ctx.update({"l0": l0, "l1": l1, "w": hdr["weights"],
                          "nref0": hdr["num_ref"],
                          "nref1": hdr["num_ref1"],
                          "spatial": bool(hdr["direct_spatial"]),
                          "implicit": hdr["implicit_wp"],
                          "poc": cur_poc})
            max_fn = 1 << sps["log2_max_frame_num"]
            if hdr.get("ref_mod_l0"):
                l0 = _apply_ref_mod(l0, hdr["ref_mod_l0"],
                                    hdr["frame_num"], max_fn)
            if hdr.get("ref_mod_l1"):
                l1 = _apply_ref_mod(l1, hdr["ref_mod_l1"],
                                    hdr["frame_num"], max_fn)
            b_ctx["l0"], b_ctx["l1"] = l0, l1
            cur_l0_pocs = [e[3] if len(e) > 3 else None for e in l0]
            cur_l1_pocs = [e[3] if len(e) > 3 else None for e in l1]
        elif is_p:
            # init order: short-terms most-recent-first (PicNum
            # desc), then the long-term tail (8.2.4.2)
            refs_l0 = ([e for e in refs if _entry_lt(e) is None]
                       + _lt_tail(refs))
            if hdr.get("ref_mod_l0"):
                refs_l0 = _apply_ref_mod(
                    refs_l0, hdr["ref_mod_l0"], hdr["frame_num"],
                    1 << sps["log2_max_frame_num"])
            cur_l0_pocs = [e[3] if len(e) > 3 else None
                           for e in refs_l0]
        mb = hdr["first_mb"]
        ent = _EntCavlc(r)
        stop = _rbsp_stop(rbsp)
        while True:
            if is_p or is_b:
                if r.pos >= stop:
                    break
                for _ in range(r.ue()):   # mb_skip_run
                    if mb >= wm * hm:
                        raise ValueError(
                            "skip run overruns the picture")
                    if is_b:
                        decode_skip_b(mb)
                    else:
                        decode_skip(mb)
                    mb += 1
                if r.pos >= stop:
                    break
            elif r.pos >= stop:
                break
            if mb >= wm * hm:
                raise ValueError("slice data overruns the picture")
            decode_mb(mb, is_p, hdr["num_ref"], is_b=is_b)
            mb_qp_g[mb // wm][mb % wm] = qp
            mb += 1
        next_mb = mb
    if next_mb < wm * hm:
        raise ValueError(
            f"picture not fully covered: {next_mb} of {wm * hm} MBs"
        )

    if deblock not in (False, True, "auto"):
        raise ValueError("deblock must be False, True, or 'auto'")
    signaled = any(idc != 1 for idc, _, _ in slice_db)
    if signaled and (deblock is True
                     or (deblock == "auto" and _tc0_available())):
        _warn_if_closed_form_ab()
        _deblock_picture(y_plane, cb_plane, cr_plane, wm, hm,
                         mb_qp_g, mb_ipcm, mb_slice, slice_db,
                         pps["chroma_qp_off"],
                         luma_nc=luma_nc if has_inter else None,
                         mv_g=mv_g if has_inter else None,
                         mb_t8=mb_t8 if t8_allowed else None)
    return (y_plane, cb_plane, cr_plane, mv_g, mv_refpoc,
            mv_g1, mv_refpoc1)


def _crop_planes(sps, y_plane, cb_plane, cr_plane):
    cl, cr_, ct, cb_ = sps["crop"]
    w, h = sps["width"], sps["height"]
    y_rows = [
        list(y_plane.px[(ct * 2 + yy) * y_plane.w + cl * 2:]
             [: w]) for yy in range(h)
    ]
    cb_rows = [
        list(cb_plane.px[(ct + yy) * cb_plane.w + cl:][: w // 2])
        for yy in range(h // 2)
    ]
    cr_rows = [
        list(cr_plane.px[(ct + yy) * cr_plane.w + cl:][: w // 2])
        for yy in range(h // 2)
    ]
    return y_rows, cb_rows, cr_rows


def _picture_poc(sps: dict, hdr: dict, idr: bool,
                 state: dict) -> int:
    """PicOrderCnt of the current picture (8.2.1): poc_type 0 uses
    the lsb/msb wrap derivation against the previous REFERENCE
    picture; other types fall back to decode order (no reordering
    exists without type-0 POC in this profile subset)."""
    if sps["poc_type"] != 0 or hdr["poc_lsb"] is None:
        state["cnt"] = state.get("cnt", -1) + 1
        return 2 * state["cnt"]
    if idr:
        state["msb"], state["lsb"] = 0, 0
        prev_msb = prev_lsb = 0
    else:
        prev_msb = state.get("msb", 0)
        prev_lsb = state.get("lsb", 0)
    max_lsb = 1 << sps["poc_lsb_bits"]
    lsb = hdr["poc_lsb"]
    if lsb < prev_lsb and prev_lsb - lsb >= max_lsb // 2:
        msb = prev_msb + max_lsb
    elif lsb > prev_lsb and lsb - prev_lsb > max_lsb // 2:
        msb = prev_msb - max_lsb
    else:
        msb = prev_msb
    if hdr["ref_idc"]:
        state["msb"], state["lsb"] = msb, lsb
    return msb + lsb


def decode_video_yuv(data: bytes, max_frames: int | None = None,
                     deblock="auto"):
    """Annex-B stream -> (width, height, [(y_rows, cb_rows, cr_rows),
    ...]) for up to ``max_frames`` pictures in decode order (r9: IDR/I
    pictures AND P pictures — motion-compensated, sliding-window
    DPB). Picture boundaries are slices with first_mb_in_slice == 0;
    an IDR resets the reference list. ``deblock`` as in
    :func:`decode_iframe_yuv`; when the filter runs, the FILTERED
    picture is the reference, per the in-loop definition."""
    sps = pps = None
    pics: list[list[tuple[int, int, bytes]]] = []
    for ref, typ, rbsp in nal_units(data):
        if typ == 7 and sps is None:
            sps = parse_sps(rbsp)
        elif typ == 8 and pps is None:
            pps = parse_pps(rbsp, sps)
        elif typ in (1, 5):
            if _R(rbsp).ue() == 0 or not pics:
                pics.append([])
            pics[-1].append((typ, ref, rbsp))
    if sps is None or pps is None or not pics:
        raise ValueError("no SPS+PPS+slice in stream")
    dpb: list = []
    frames = []
    poc_state: dict = {}
    for pic in pics:
        if max_frames is not None and len(frames) >= max_frames:
            break
        if pic[0][0] == 5:
            dpb = []  # IDR: reference list resets
        hdr0 = _parse_slice_header(_R(pic[0][2]), sps, pps,
                                   pic[0][0], pic[0][1])
        poc = _picture_poc(sps, hdr0, pic[0][0] == 5, poc_state)
        y_p, cb_p, cr_p, mvf, pocf, mvf1, pocf1 = _decode_picture(
            sps, pps, pic, dpb, deblock, cur_poc=poc)
        frames.append(_crop_planes(sps, y_p, cb_p, cr_p))
        if pic[0][1]:  # nal_ref_idc != 0: used for reference
            entry = (_plane_np(y_p), _plane_np(cb_p),
                     _plane_np(cr_p), poc, mvf, pocf,
                     mvf1, pocf1, hdr0["frame_num"], None)
            if pic[0][0] == 5 and (hdr0.get("idr_bits")
                                   or (0, 0))[1]:
                # IDR long_term_reference_flag (8.2.5.1)
                entry = _set_lt(entry, 0)
            mmco = hdr0.get("mmco")
            dpb = _apply_marking(
                dpb, mmco, entry, hdr0["frame_num"],
                1 << sps["log2_max_frame_num"], sps["max_ref"])
            if mmco and any(c[0] == 5 for c in mmco):
                # MMCO-5 re-origin (8.2.5.4.5): the current picture
                # is inferred to have frame_num 0 and POC 0, and the
                # POC derivation restarts from it
                e0 = list(dpb[0])
                e0[3] = 0
                e0[8] = 0
                dpb[0] = tuple(e0)
                poc_state.clear()
                poc_state.update({"msb": 0, "lsb": 0, "cnt": 0})
    return sps["width"], sps["height"], frames


def decode_iframe_yuv(data: bytes, deblock="auto"):
    """First IDR/I picture of an Annex-B stream -> (width, height,
    Y plane rows, Cb rows, Cr rows) at coded (uncropped) MB grid,
    then cropped per the SPS.

    ``deblock`` (r9): ``"auto"`` applies the in-loop filter when the
    stream signals it on AND the tC0 seam is loaded (otherwise the
    pre-deblock reconstruction is returned, the pre-r9 behavior —
    fine for hashing/thumbnails); ``True`` honors the stream's signal
    and raises namefully if tC0 is missing; ``False`` never filters.
    Streams that signal disable_deblocking_filter_idc = 1 (all engine
    encoders' default operating points) are identical under all
    three."""
    w, h, frames = decode_video_yuv(data, max_frames=1,
                                    deblock=deblock)
    ys, cbs, crs = frames[0]
    return w, h, ys, cbs, crs


def _yuv_rows_to_rgb(w, h, ys, cbs, crs):
    rows = []
    for y in range(h):
        row = []
        for x in range(w):
            Y = ys[y][x]
            Cb = cbs[y // 2][x // 2] - 128
            Cr = crs[y // 2][x // 2] - 128
            row.append((
                _clip8(round(Y + 1.402 * Cr)),
                _clip8(round(Y - 0.344136 * Cb - 0.714136 * Cr)),
                _clip8(round(Y + 1.772 * Cb)),
            ))
        rows.append(row)
    return rows


def decode_iframe(data: bytes, deblock="auto"):
    """First I frame -> (width, height, RGB rows) via BT.601
    full-range conversion (the same convention as jpeg.py)."""
    w, h, ys, cbs, crs = decode_iframe_yuv(data, deblock=deblock)
    return w, h, _yuv_rows_to_rgb(w, h, ys, cbs, crs)


def decode_video(data: bytes, max_frames: int | None = None,
                 deblock="auto"):
    """Annex-B stream -> (width, height, [RGB rows per frame]) — the
    multi-frame (IPPP) surface for frame extraction (r9)."""
    w, h, frames = decode_video_yuv(data, max_frames=max_frames,
                                    deblock=deblock)
    return w, h, [_yuv_rows_to_rgb(w, h, *f) for f in frames]


# ------------------------------------------------------------- encoder

def _nal(w_bytes: bytes, ref_idc: int, typ: int) -> bytes:
    return b"\x00\x00\x00\x01" + bytes([(ref_idc << 5) | typ]) + _escape(w_bytes)


def encode_ipcm_yuv(ys, cbs, crs) -> bytes:
    """4:2:0 planes -> Annex-B stream of one IDR picture made entirely
    of I_PCM macroblocks (zero entropy tables: the decode round-trip
    is EXACT and pins NAL/SPS/PPS/slice/MB plumbing). Dimensions that
    are not multiples of 16 are padded edge-replicated and signaled
    via SPS frame cropping."""
    ys, cbs, crs, w, h, wm, hm = _pad420(ys, cbs, crs)
    out = _write_sps_pps(wm, hm, w, h)

    sl = _W()
    sl.ue(0)       # first_mb_in_slice
    sl.ue(7)       # slice_type: I (all slices)
    sl.ue(0)       # pps id
    sl.u(0, 4)     # frame_num
    sl.ue(0)       # idr_pic_id
    sl.u(1, 1)     # no_output_of_prior_pics
    sl.u(0, 1)     # long_term_reference
    sl.se(0)       # slice_qp_delta
    sl.ue(1)       # disable_deblocking_filter_idc = 1 (off)
    for mb in range(wm * hm):
        mbx, mby = mb % wm, mb // wm
        sl.ue(25)  # I_PCM
        sl.byte_align_zero()
        for yy in range(16):
            for xx in range(16):
                sl.u(ys[16 * mby + yy][16 * mbx + xx], 8)
        for plane in (cbs, crs):
            for yy in range(8):
                for xx in range(8):
                    sl.u(plane[8 * mby + yy][8 * mbx + xx], 8)
    out += _nal(sl.trailing(), 3, 5)
    return out


# ------------------------------------------------- quantized encoder

def _cavlc_write_block(w: _W, coeffs: list[int], nc: int,
                       max_coeff: int) -> None:
    """Encode one residual block (scan-order coefficient list) — the
    exact inverse of :func:`_cavlc_block`. nC >= 8 rides the
    table-free fixed-length coeff_token branch; other contexts need
    the injected codebooks (reverse-looked-up)."""
    nz = [(k, c) for k, c in enumerate(coeffs) if c]
    tc = len(nz)
    t1s = 0
    for _k, c in reversed(nz):
        if abs(c) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    if nc >= 8:
        w.u(0b000011 if tc == 0 else (((tc - 1) << 2) | t1s), 6)
    else:
        if nc == -1:
            key = "cdc"
        elif nc < 2:
            key = "0"
        elif nc < 4:
            key = "2"
        else:
            key = "4"
        rev = {v: k for k, v in _need("coeff_token", key).items()}
        hit = rev.get((tc, t1s))
        if hit is None:
            raise ValueError(f"coeff_token ({tc},{t1s}) not in book {key}")
        w.u(hit[1], hit[0])
    if tc == 0:
        return
    levels = [c for _k, c in reversed(nz)]  # highest scan position first
    for i in range(t1s):
        w.u(0 if levels[i] > 0 else 1, 1)
    suffix_len = 1 if (tc > 10 and t1s < 3) else 0
    for i, level in enumerate(levels[t1s:]):
        level_code = 2 * level - 2 if level > 0 else -2 * level - 1
        if i == 0 and t1s < 3:
            level_code -= 2
        if suffix_len == 0:
            if level_code < 14:
                w.u(1, level_code + 1)       # level_code zeros, then 1
            elif level_code < 30:
                w.u(1, 15)                   # prefix 14
                w.u(level_code - 14, 4)
            elif level_code < 30 + 4096:
                w.u(1, 16)                   # prefix 15, 12-bit suffix
                w.u(level_code - 30, 12)
            else:
                raise ValueError("level beyond the engine encoder range")
        else:
            prefix = level_code >> suffix_len
            if prefix < 15:
                w.u(1, prefix + 1)
                w.u(level_code & ((1 << suffix_len) - 1), suffix_len)
            elif level_code < (15 << suffix_len) + 4096:
                w.u(1, 16)                   # prefix 15, 12-bit suffix
                w.u(level_code - (15 << suffix_len), 12)
            else:
                raise ValueError("level beyond the engine encoder range")
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if tc < max_coeff:
        total_zeros = nz[-1][0] + 1 - tc
        key = f"cdc{tc}" if nc == -1 else str(tc)
        rev = {v: k for k, v in _need("total_zeros", key).items()}
        hit = rev.get(total_zeros)
        if hit is None:
            raise ValueError(f"total_zeros {total_zeros} not in book {key}")
        w.u(hit[1], hit[0])
    else:
        total_zeros = 0
    zeros_left = total_zeros
    pos = [k for k, _c in reversed(nz)]      # scan positions, descending
    for i in range(tc - 1):
        if zeros_left <= 0:
            break
        run = pos[i] - pos[i + 1] - 1
        rev = {v: k for k, v in
               _need("run_before", str(min(zeros_left, 7))).items()}
        hit = rev.get(run)
        if hit is None:
            raise ValueError(f"run_before {run} not in codebook")
        w.u(hit[1], hit[0])
        zeros_left -= run


def _rdiv(num: int, den: int) -> int:
    """Round num/den (den > 0) to nearest, half away from zero."""
    if num >= 0:
        return (2 * num + den) // (2 * den)
    return -((-2 * num + den) // (2 * den))


def _quant_scan(wblk: list[list[int]], qp: int, skip_dc: bool,
                dense: bool) -> list[int]:
    """Scan-order levels for one 4x4 block from its forward transform,
    stepping by the decoder's dequant scale through the _UGAIN gain
    identity (d_target = W * u_i * u_j, level = d_target / (V << qdiv)
    rounded). dense=True bumps zero levels to +1 so the block decodes
    on the table-free nC>=8 / tc==maxCoeff CAVLC path."""
    qdiv, qmod = qp // 6, qp % 6
    out = []
    for (i, j) in (_ZIG4[1:] if skip_dc else _ZIG4):
        (n1, d1), (n2, d2) = _UGAIN[i], _UGAIN[j]
        scale = _V[qmod][_v_class(i, j)] << qdiv
        lvl = _rdiv(wblk[i][j] * n1 * n2, d1 * d2 * scale)
        if dense and lvl == 0:
            lvl = 1
        out.append(lvl)
    return out


def _pad420(ys, cbs, crs):
    """Edge-replicate 4:2:0 planes to whole macroblocks; returns
    (ys, cbs, crs, w, h, wm, hm)."""
    h, w = len(ys), len(ys[0])
    wm, hm = (w + 15) // 16, (h + 15) // 16
    pw, ph = 16 * wm, 16 * hm
    if (pw - w) % 2 or (ph - h) % 2:
        raise ValueError("width/height must be even (4:2:0 chroma)")

    def pad(plane, tw, th):
        rows = [list(row) + [row[-1]] * (tw - len(row)) for row in plane]
        while len(rows) < th:
            rows.append(list(rows[-1]))
        return rows

    return (pad(ys, pw, ph), pad(cbs, pw // 2, ph // 2),
            pad(crs, pw // 2, ph // 2), w, h, wm, hm)


def _write_sps_pps(wm: int, hm: int, w: int, h: int,
                   init_qp: int = 26, max_ref: int = 0,
                   poc0: bool = False, wbipred: int = 0,
                   direct8x8: bool = False,
                   high8x8: bool = False) -> bytes:
    """SPS + PPS NALs for the engine encoders (baseline, one slice
    group, CAVLC, deblocking signalled off by the slice header).
    ``poc0`` selects pic_order_cnt_type 0 with 6-bit lsb (the B
    encoder needs real POCs for reference-list ordering); ``wbipred``
    sets weighted_bipred_idc (1 = explicit tables in B headers);
    ``direct8x8`` (r11) sets direct_8x8_inference_flag — real
    Main-profile streams virtually always set it, and it changes
    which COLOCATED blocks direct modes consult (the 8x8 corners)."""
    sps = _W()
    # baseline / main (B slices) / high (8x8 transform, r12)
    sps.u(100 if high8x8 else (66 if not poc0 else 77), 8)
    sps.u(0, 8)    # constraint flags / reserved
    sps.u(30, 8)   # level 3.0
    sps.ue(0)      # sps id
    if high8x8:
        sps.ue(1)      # chroma_format_idc 4:2:0
        sps.ue(0)      # bit_depth_luma_minus8
        sps.ue(0)      # bit_depth_chroma_minus8
        sps.u(0, 1)    # qpprime_y_zero_transform_bypass
        sps.u(0, 1)    # seq_scaling_matrix_present (Flat_16)
    sps.ue(0)      # log2_max_frame_num_minus4
    if poc0:
        sps.ue(0)  # pic_order_cnt_type 0
        sps.ue(2)  # log2_max_pic_order_cnt_lsb_minus4 -> 6 bits
    else:
        sps.ue(2)  # pic_order_cnt_type 2
    sps.ue(max_ref)  # max_num_ref_frames
    sps.u(0, 1)    # gaps allowed
    sps.ue(wm - 1)
    sps.ue(hm - 1)
    sps.u(1, 1)    # frame_mbs_only
    sps.u(1 if direct8x8 else 0, 1)    # direct_8x8_inference
    crop_r, crop_b = (16 * wm - w) // 2, (16 * hm - h) // 2
    if crop_r or crop_b:
        sps.u(1, 1)
        sps.ue(0)
        sps.ue(crop_r)
        sps.ue(0)
        sps.ue(crop_b)
    else:
        sps.u(0, 1)
    sps.u(0, 1)    # no VUI
    out = _nal(sps.trailing(), 3, 7)
    pps = _W()
    pps.ue(0)      # pps id
    pps.ue(0)      # sps id
    pps.u(0, 1)    # CAVLC
    pps.u(0, 1)    # bottom_field_pic_order
    pps.ue(0)      # one slice group
    pps.ue(0)
    pps.ue(0)      # ref idx defaults
    pps.u(0, 1)    # weighted_pred
    pps.u(wbipred, 2)  # weighted_bipred_idc
    pps.se(init_qp - 26)
    pps.se(0)      # pic_init_qs
    pps.se(0)      # chroma_qp_offset
    pps.u(1, 1)    # deblocking_filter_control_present
    pps.u(0, 1)    # constrained_intra_pred
    pps.u(0, 1)    # redundant_pic_cnt_present
    if high8x8:
        pps.u(1, 1)    # transform_8x8_mode_flag
        pps.u(0, 1)    # pic_scaling_matrix_present
        pps.se(0)      # second_chroma_qp_index_offset
    return out + _nal(pps.trailing(), 3, 8)


def encode_quantized_yuv(ys, cbs, crs, qp: int = 10, mb_mode: str = "i16",
                         dense: bool = True, slices: int = 1,
                         deblock: bool = False):
    """4:2:0 planes -> (Annex-B bytes, (recon_y, recon_cb, recon_cr)):
    one IDR picture at fixed QP with CAVLC-coded quantized residuals,
    plus the encoder's own bit-exact reconstruction (it replays the
    decoder's integer math, predicting each macroblock from RECON
    neighbors like the decoder does).

    The first macroblock is I_PCM — it seeds every CAVLC nC context at
    16, so with ``dense=True`` (every coded luma block carries all its
    coefficients) coeff_token always rides the table-free nC>=8
    fixed-length branch and the stream decodes with the CAVLC seam
    EMPTY; chroma is prediction-only in dense mode (the 2x2 chroma-DC
    context is unconditionally tabulated). ``dense=False`` emits
    sparse residuals INCLUDING the chroma DC+AC path and needs the
    coeff_token/total_zeros/run_before codebooks injected (tests use
    synthetic ones). ``mb_mode="i4"`` codes Intra_4x4 macroblocks
    (all-DC block modes) and additionally needs the ``cbp_intra``
    map (spec Table 9-4; engine round trips accept any injected
    bijection).

    The quantizer steps by the published dequant formulas through the
    independently-derived gain identity (see _UGAIN), so a one-sided
    dequant translation bug shows up as a source-error blowout in
    tests even though encode->decode stays bit-consistent.

    ``slices > 1`` (r9) splits the MB raster into that many contiguous
    slices (each its own NAL). Slice independence is honored on BOTH
    sides: the encoder predicts only from same-slice recon neighbors
    and restarts every nC context, and the FIRST MB of every slice is
    I_PCM so dense mode keeps its table-free bootstrap.

    ``deblock=True`` (r9) signals the in-loop filter ON
    (disable_deblocking_filter_idc=0, zero offsets) and replays the
    decoder's deblocking on the returned recon, so
    ``decode_iframe_yuv(bytes, deblock=True)`` stays bit-exact
    against it; decoding then needs the ``deblock_tc0`` seam (any
    injected values round-trip — the self-check pins the FILTER, the
    real Table 8-17 matters only for foreign streams)."""
    if mb_mode not in ("i16", "i4", "i8"):
        raise ValueError("mb_mode must be 'i16', 'i4' or 'i8'")
    ys, cbs, crs, w, h, wm, hm = _pad420(ys, cbs, crs)
    out = _write_sps_pps(wm, hm, w, h, init_qp=qp,
                         high8x8=(mb_mode == "i8"))

    n_mbs = wm * hm
    # slice boundaries align to MB ROWS: a slice starting mid-row
    # would orphan the next row's left-edge MB (no same-slice
    # neighbor -> nC context 0 -> dense mode loses its table-free
    # bootstrap)
    slices = max(1, min(int(slices), hm))
    rows_per = -(-hm // slices)
    slice_starts = [r * wm for r in range(0, hm, rows_per)]

    def new_slice_writer(first_mb: int) -> _W:
        w2 = _W()
        w2.ue(first_mb)  # first_mb_in_slice
        w2.ue(7)       # slice_type: I (all slices)
        w2.ue(0)       # pps id
        w2.u(0, 4)     # frame_num
        w2.ue(0)       # idr_pic_id
        w2.u(1, 1)     # no_output_of_prior_pics
        w2.u(0, 1)     # long_term_reference
        w2.se(0)       # slice_qp_delta
        if deblock:
            w2.ue(0)   # disable_deblocking_filter_idc = 0 (filter on)
            w2.se(0)   # slice_alpha_c0_offset_div2
            w2.se(0)   # slice_beta_offset_div2
        else:
            w2.ue(1)   # disable_deblocking_filter_idc = 1 (off)
        return w2

    sl = new_slice_writer(0)

    ry = _Plane(16 * wm, 16 * hm)
    rcb = _Plane(8 * wm, 8 * hm)
    rcr = _Plane(8 * wm, 8 * hm)
    luma_nc = [[-1] * (4 * wm) for _ in range(4 * hm)]
    cb_nc = [[-1] * (2 * wm) for _ in range(2 * hm)]
    cr_nc = [[-1] * (2 * wm) for _ in range(2 * hm)]
    i4_modes = [[2] * (4 * wm) for _ in range(4 * hm)]
    mb_i4 = [[False] * wm for _ in range(hm)]
    mb_t8_g = [[False] * wm for _ in range(hm)]
    mb_slice = [[-1] * wm for _ in range(hm)]
    cur_slice = 0
    qdiv, qmod = qp // 6, qp % 6

    def mb_avail(mbx2: int, mby2: int) -> bool:
        return (0 <= mbx2 < wm and 0 <= mby2 < hm
                and mb_slice[mby2][mbx2] == cur_slice)

    def blk_decoded(bx: int, by: int, cur_mb: int, cur_blk: int) -> bool:
        # decoder-identical availability (operators/h264.py decode):
        # earlier same-slice MB, or earlier coding-order block in-MB
        if bx < 0 or by < 0 or bx >= 4 * wm or by >= 4 * hm:
            return False
        nmb = (by // 4) * wm + (bx // 4)
        if nmb != cur_mb:
            return nmb < cur_mb and mb_avail(bx // 4, by // 4)
        return _BLK4_IDX[(bx % 4, by % 4)] < cur_blk

    def nc_of(grid, bx, by, div=4):
        na = (grid[by][bx - 1]
              if bx > 0 and mb_avail((bx - 1) // div, by // div) else -1)
        nb = (grid[by - 1][bx]
              if by > 0 and mb_avail(bx // div, (by - 1) // div) else -1)
        if na >= 0 and nb >= 0:
            return (na + nb + 1) >> 1
        if na >= 0:
            return na
        return nb if nb >= 0 else 0

    def src_block(plane, x0, y0, n):
        return [plane[y0 + dy][x0: x0 + n] for dy in range(n)]

    def residual(src, pred, n):
        return [[src[y][x] - pred[y][x] for x in range(n)] for y in range(n)]

    def recon_block(pred, d, n=4):
        res = _itrans4(d)
        return [[_clip8(pred[yy][xx] + ((res[yy][xx] + 32) >> 6))
                 for xx in range(4)] for yy in range(4)]

    def encode_chroma(mbx, mby):
        """Chroma for one non-I_PCM MB; returns cbp_chroma and a list
        of (write-closure) deferred until after cbp is known (I4x4
        writes cbp before residuals). Reconstruction happens here."""
        qc = _qpc(qp)  # chroma_qp_offset is 0 in the engine PPS
        cdiv, cmod = qc // 6, qc % 6
        writers = []
        cbp_chroma = 0 if dense else 2
        up, lf = mb_avail(mbx, mby - 1), mb_avail(mbx - 1, mby)
        for plane, grid, src in ((rcb, cb_nc, cbs), (rcr, cr_nc, crs)):
            cx0, cy0 = 8 * mbx, 8 * mby
            ctop = plane.row(cx0, cy0 - 1, 8) if up else None
            cleft = plane.col(cx0 - 1, cy0, 8) if lf else None
            ctl = (plane.px[(cy0 - 1) * plane.w + cx0 - 1]
                   if (up and lf) else None)
            cpred = _pred_chroma(0, ctop, cleft, ctl)  # DC mode
            if cbp_chroma == 0:
                plane.put(cx0, cy0, cpred)
                for by in range(2 * mby, 2 * mby + 2):
                    for bx in range(2 * mbx, 2 * mbx + 2):
                        grid[by][bx] = 0
                continue
            # quantize: per-4x4 forward transforms
            wblks = []
            for blk in range(4):
                ox, oy = 4 * (blk % 2), 4 * (blk // 2)
                xsrc = src_block(src, cx0 + ox, cy0 + oy, 4)
                xres = residual(
                    xsrc,
                    [row[ox: ox + 4] for row in cpred[oy: oy + 4]], 4)
                wblks.append(_ftrans4(xres))
            # 2x2 chroma DC: target d00 = 4*W00; decoder maps scan ->
            # fdc (self-inverse x4) -> _dequant_chroma_dc
            g = [wblks[b][0][0] for b in range(4)]
            hseq = [g[0] + g[1] + g[2] + g[3], g[0] - g[1] + g[2] - g[3],
                    g[0] + g[1] - g[2] - g[3], g[0] - g[1] - g[2] + g[3]]
            ls = _V[cmod][0]
            # levels = h2(4*W00)/4 / ((ls<<cdiv)/2) = 2*h2(W00)/(ls<<cdiv)
            dc_levels = [_rdiv(2 * v, ls << cdiv) for v in hseq]
            ac_levels = [
                _quant_scan(wblks[b], qc, skip_dc=True, dense=False)
                for b in range(4)
            ]
            # replay the decoder's reconstruction
            a, b_, c_, d4 = dc_levels
            fdc = [[a + b_ + c_ + d4, a - b_ + c_ - d4],
                   [a + b_ - c_ - d4, a - b_ - c_ + d4]]
            cdc = [[_dequant_chroma_dc(fdc[i][j], qc) for j in range(2)]
                   for i in range(2)]
            cout = [[0] * 8 for _ in range(8)]
            for blk in range(4):
                ox, oy = 4 * (blk % 2), 4 * (blk // 2)
                d = [[0] * 4 for _ in range(4)]
                d[0][0] = cdc[blk // 2][blk % 2]
                for k, (i, j) in enumerate(_ZIG4[1:]):
                    cval = ac_levels[blk][k]
                    if cval:
                        d[i][j] = _dequant_ac(cval, cmod, cdiv, i, j)
                res = _itrans4(d)
                for yy in range(4):
                    for xx in range(4):
                        cout[oy + yy][ox + xx] = _clip8(
                            cpred[oy + yy][ox + xx]
                            + ((res[yy][xx] + 32) >> 6))
            plane.put(cx0, cy0, cout)

            def make_writer(grid=grid, mbx=mbx, mby=mby,
                            dc_levels=dc_levels, ac_levels=ac_levels):
                def write():
                    _cavlc_write_block(sl, dc_levels, -1, 4)
                    for blk in range(4):
                        bx = 2 * mbx + blk % 2
                        by = 2 * mby + blk // 2
                        nc = nc_of(grid, bx, by, 2)
                        _cavlc_write_block(sl, ac_levels[blk], nc, 15)
                        grid[by][bx] = sum(1 for v in ac_levels[blk] if v)
                return write
            writers.append(make_writer())
        return cbp_chroma, writers

    for mb in range(n_mbs):
        mbx, mby = mb % wm, mb // wm
        if mb in slice_starts and mb != 0:
            out += _nal(sl.trailing(), 3, 5)
            sl = new_slice_writer(mb)
            cur_slice += 1
        mb_slice[mby][mbx] = cur_slice
        if mb in slice_starts:
            # I_PCM bootstrap at every slice start: seeds the slice's
            # nC contexts at 16 and keeps dense mode table-free
            x0, y0 = 16 * mbx, 16 * mby
            sl.ue(25)
            sl.byte_align_zero()
            blk = src_block(ys, x0, y0, 16)
            for row in blk:
                for v in row:
                    sl.u(v, 8)
            ry.put(x0, y0, blk)
            for plane, src in ((rcb, cbs), (rcr, crs)):
                cblk = src_block(src, 8 * mbx, 8 * mby, 8)
                for row in cblk:
                    for v in row:
                        sl.u(v, 8)
                plane.put(8 * mbx, 8 * mby, cblk)
            for by in range(4 * mby, 4 * mby + 4):
                for bx in range(4 * mbx, 4 * mbx + 4):
                    luma_nc[by][bx] = 16
            for grid in (cb_nc, cr_nc):
                for by in range(2 * mby, 2 * mby + 2):
                    for bx in range(2 * mbx, 2 * mbx + 2):
                        grid[by][bx] = 16
            continue

        x0, y0 = 16 * mbx, 16 * mby
        if mb_mode == "i16":
            up, lf = mb_avail(mbx, mby - 1), mb_avail(mbx - 1, mby)
            top = ry.row(x0, y0 - 1, 16) if up else None
            left = ry.col(x0 - 1, y0, 16) if lf else None
            tl = (ry.px[(y0 - 1) * ry.w + x0 - 1]
                  if (up and lf) else None)
            pred = _pred16(2, top, left, tl)  # DC
            # forward transforms for the 16 blocks
            wblks = []
            for blk in range(16):
                ox, oy = _BLK4_XY[blk]
                xres = residual(
                    src_block(ys, x0 + ox, y0 + oy, 4),
                    [row[ox: ox + 4] for row in pred[oy: oy + 4]], 4)
                wblks.append(_ftrans4(xres))
            # luma DC: targets 4*W00 on the (block row, block col) grid
            g = [[0] * 4 for _ in range(4)]
            for blk in range(16):
                ox, oy = _BLK4_XY[blk]
                g[oy // 4][ox // 4] = wblks[blk][0][0]
            hgrid = _hadamard4(g)
            dc_levels_mat = [[0] * 4 for _ in range(4)]
            for i in range(4):
                for j in range(4):
                    # levels = hadamard4(4*W00)/16 / dscale, where the
                    # decoder's dscale comes from _dequant_luma_dc
                    if qp >= 12:
                        dc_levels_mat[i][j] = _rdiv(
                            hgrid[i][j],
                            4 * (_V[qmod][0] << (qdiv - 2)))
                    else:
                        dc_levels_mat[i][j] = _rdiv(
                            hgrid[i][j] << (2 - qdiv), 4 * _V[qmod][0])
                    if dense and dc_levels_mat[i][j] == 0:
                        dc_levels_mat[i][j] = 1
            dc_scan = [dc_levels_mat[i][j] for (i, j) in _ZIG4]
            ac_scans = [_quant_scan(wblks[blk], qp, skip_dc=True,
                                    dense=dense) for blk in range(16)]
            cbp_chroma, cwriters = encode_chroma(mbx, mby)
            # mb_type: pred DC(2), cbp_luma 15 -> rest = 3 + cbp_chroma
            sl.ue(1 + 2 + 4 * (3 + cbp_chroma))
            sl.ue(0)   # intra_chroma_pred_mode DC
            sl.se(0)   # mb_qp_delta
            _cavlc_write_block(
                sl, dc_scan, nc_of(luma_nc, 4 * mbx, 4 * mby), 16)
            for blk in range(16):
                bx = 4 * mbx + _BLK4_XY[blk][0] // 4
                by = 4 * mby + _BLK4_XY[blk][1] // 4
                _cavlc_write_block(
                    sl, ac_scans[blk], nc_of(luma_nc, bx, by), 15)
                luma_nc[by][bx] = sum(1 for v in ac_scans[blk] if v)
            for cw in cwriters:
                cw()
            # reconstruction replay (decoder-identical integer math)
            f = _hadamard4(dc_levels_mat)
            dcs = [[_dequant_luma_dc(f[i][j], qp) for j in range(4)]
                   for i in range(4)]
            out16 = [[0] * 16 for _ in range(16)]
            for blk in range(16):
                ox, oy = _BLK4_XY[blk]
                d = [[0] * 4 for _ in range(4)]
                d[0][0] = dcs[oy // 4][ox // 4]
                for k, (i, j) in enumerate(_ZIG4[1:]):
                    c = ac_scans[blk][k]
                    if c:
                        d[i][j] = _dequant_ac(c, qmod, qdiv, i, j)
                rb = recon_block(
                    [row[ox: ox + 4] for row in pred[oy: oy + 4]], d)
                for yy in range(4):
                    for xx in range(4):
                        out16[oy + yy][ox + xx] = rb[yy][xx]
            ry.put(x0, y0, out16)
        elif mb_mode == "i8":
            # ---- Intra_8x8 (High profile, all-DC modes, r12) ----
            mb_i4[mby][mbx] = True
            mb_t8_g[mby][mbx] = True
            sl.ue(0)      # mb_type I_NxN
            sl.u(1, 1)    # transform_size_8x8_flag
            for b8 in range(4):
                cx, cy = 2 * (b8 % 2), 2 * (b8 // 2)
                bx, by = 4 * mbx + cx, 4 * mby + cy
                availA = cx > 0 or mb_avail(mbx - 1, mby)
                availB = cy > 0 or mb_avail(mbx, mby - 1)
                if not (availA and availB):
                    predm = 2
                else:
                    ma = (i4_modes[by][bx - 1]
                          if mb_i4[by // 4][(bx - 1) // 4] else 2)
                    mb_2 = (i4_modes[by - 1][bx]
                            if mb_i4[(by - 1) // 4][bx // 4] else 2)
                    predm = min(ma, mb_2)
                if predm == 2:
                    sl.u(1, 1)             # prev flag
                else:
                    sl.u(0, 1)
                    sl.u(2 if 2 < predm else 1, 3)
                for yy in range(2):
                    for xx in range(2):
                        i4_modes[by + yy][bx + xx] = 2
            cbp_chroma, cwriters = encode_chroma(mbx, mby)
            cbp = 15 | (cbp_chroma << 4)
            rev = {v: k
                   for k, v in _need("cbp_intra", "intra").items()}
            if cbp not in rev:
                raise ValueError(
                    f"cbp {cbp} unmapped in cbp_intra seam")
            sl.ue(0)          # intra_chroma_pred_mode DC
            sl.ue(rev[cbp])   # coded_block_pattern me(v)
            sl.se(0)          # mb_qp_delta
            for b8 in range(4):
                ox, oy = 8 * (b8 % 2), 8 * (b8 // 2)
                gx, gy = x0 + ox, y0 + oy
                bx, by = gx // 4, gy // 4
                first = 4 * b8
                up_ok = blk_decoded(bx, by - 1, mb, first)
                lf_ok = blk_decoded(bx - 1, by, mb, first)
                tl_ok = blk_decoded(bx - 1, by - 1, mb, first)
                tr_ok = blk_decoded(bx + 2, by - 1, mb, first)
                top = ry.row(gx, gy - 1, 8) if up_ok else None
                left = ry.col(gx - 1, gy, 8) if lf_ok else None
                tl = (ry.px[(gy - 1) * ry.w + gx - 1]
                      if tl_ok else None)
                tr = ry.row(gx + 8, gy - 1, 8) if tr_ok else None
                pred = _pred8(2, top, left, tl, tr)
                xres = residual(src_block(ys, gx, gy, 8), pred, 8)
                scan64 = _quant8(xres, qp, dense)
                for sub in range(4):
                    sbx, sby = bx + sub % 2, by + sub // 2
                    sub_scan = [scan64[4 * k + sub]
                                for k in range(16)]
                    _cavlc_write_block(sl, sub_scan,
                                       nc_of(luma_nc, sbx, sby), 16)
                    luma_nc[sby][sbx] = sum(
                        1 for v in sub_scan if v)
                d = [[0] * 8 for _ in range(8)]
                for k, (i, j) in enumerate(_ZIG8):
                    c = scan64[k]
                    if c:
                        d[i][j] = _dq8(c, qp, i, j, None)
                res8 = _itrans8(d)
                ry.put(gx, gy, [
                    [_clip8(pred[yy][xx]
                            + ((res8[yy][xx] + 32) >> 6))
                     for xx in range(8)] for yy in range(8)])
            for cw in cwriters:
                cw()
        else:
            # ---- Intra_4x4 (all blocks DC mode) ----
            mb_i4[mby][mbx] = True
            sl.ue(0)   # mb_type I_4x4
            for blk in range(16):
                bx = 4 * mbx + _BLK4_XY[blk][0] // 4
                by = 4 * mby + _BLK4_XY[blk][1] // 4
                availA = bx % 4 > 0 or mb_avail(bx // 4 - 1, mby)
                availB = by % 4 > 0 or mb_avail(mbx, by // 4 - 1)
                if not (availA and availB):
                    predm = 2
                else:
                    ma = (i4_modes[by][bx - 1]
                          if mb_i4[by // 4][(bx - 1) // 4] else 2)
                    mb_2 = (i4_modes[by - 1][bx]
                            if mb_i4[(by - 1) // 4][bx // 4] else 2)
                    predm = min(ma, mb_2)
                if predm == 2:
                    sl.u(1, 1)             # prev flag: use predicted DC
                else:
                    sl.u(0, 1)
                    sl.u(2 if 2 < predm else 1, 3)  # rem for mode 2
                i4_modes[by][bx] = 2
            cbp_chroma, cwriters = encode_chroma(mbx, mby)
            cbp = 15 | (cbp_chroma << 4)
            rev = {v: k for k, v in _need("cbp_intra", "intra").items()}
            if cbp not in rev:
                raise ValueError(f"cbp {cbp} unmapped in cbp_intra seam")
            sl.ue(0)          # intra_chroma_pred_mode DC
            sl.ue(rev[cbp])   # coded_block_pattern me(v)
            sl.se(0)          # mb_qp_delta (cbp != 0)
            for blk in range(16):
                ox, oy = _BLK4_XY[blk]
                gx, gy = x0 + ox, y0 + oy
                bx, by = gx // 4, gy // 4
                up_ok = blk_decoded(bx, by - 1, mb, blk)
                lf_ok = blk_decoded(bx - 1, by, mb, blk)
                tl_ok = blk_decoded(bx - 1, by - 1, mb, blk)
                top = ry.row(gx, gy - 1, 4) if up_ok else None
                left = ry.col(gx - 1, gy, 4) if lf_ok else None
                tl = (ry.px[(gy - 1) * ry.w + gx - 1] if tl_ok else None)
                pred = _pred4(2, top, left, tl, None)
                xres = residual(src_block(ys, gx, gy, 4), pred, 4)
                scan = _quant_scan(_ftrans4(xres), qp, skip_dc=False,
                                   dense=dense)
                _cavlc_write_block(sl, scan, nc_of(luma_nc, bx, by), 16)
                luma_nc[by][bx] = sum(1 for v in scan if v)
                d = [[0] * 4 for _ in range(4)]
                for k, (i, j) in enumerate(_ZIG4):
                    c = scan[k]
                    if c:
                        d[i][j] = _dequant_ac(c, qmod, qdiv, i, j)
                ry.put(gx, gy, recon_block(pred, d))
            for cw in cwriters:
                cw()

    out += _nal(sl.trailing(), 3, 5)

    if deblock:
        # replay the decoder's in-loop filter on the recon, so the
        # returned planes equal decode_iframe_yuv(out, deblock=True)
        # bit-exactly (same self-check role as the rest of the recon)
        mb_qp_g = [[qp] * wm for _ in range(hm)]
        mb_ipcm = [[False] * wm for _ in range(hm)]
        for s in slice_starts:
            mb_ipcm[s // wm][s % wm] = True
        _deblock_picture(ry, rcb, rcr, wm, hm, mb_qp_g, mb_ipcm,
                         mb_slice, [(0, 0, 0)] * len(slice_starts), 0,
                         mb_t8=mb_t8_g if mb_mode == "i8" else None)

    def crop_plane(plane, cw, ch):
        return [list(plane.px[y * plane.w: y * plane.w + cw])
                for y in range(ch)]

    return out, (crop_plane(ry, w, h), crop_plane(rcb, w // 2, h // 2),
                 crop_plane(rcr, w // 2, h // 2))


def encode_quantized(px_rows, qp: int = 10, mb_mode: str = "i16",
                     dense: bool = True) -> bytes:
    """RGB rows -> quantized Annex-B stream (BT.601 full-range, 2x2
    chroma averaging — the same conversion as :func:`encode_ipcm`)."""
    ys, cbs, crs = _rgb_to_420(px_rows)
    return encode_quantized_yuv(ys, cbs, crs, qp=qp, mb_mode=mb_mode,
                                dense=dense)[0]


def encode_video_yuv(frames, qp: int = 10, mvs=None,
                     deblock: bool = False, mb_mode: str = "p16",
                     declare_num_ref: int = 1):
    """List of 4:2:0 (ys, cbs, crs) frames -> (Annex-B bytes,
    [recon frame triples]): an IDR I_PCM picture followed by P
    pictures whose macroblocks are P_L0_16x16 at a per-frame GLOBAL
    motion vector (``mvs[f]`` in quarter-pel units for frames 1..,
    default all (0, 0) = frame differencing) with dense CAVLC luma
    residuals against the motion-compensated reference — chroma is
    prediction-only, exactly the dense quantized discipline.

    Self-check role (r9): the encoder replays the decoder's MC +
    residual reconstruction (and, with ``deblock=True``, its in-loop
    filter — the FILTERED picture is the reference both sides), so
    ``decode_video_yuv`` of the returned bytes is BIT-EXACT against
    the returned recons; non-zero ``mvs`` with fractional components
    drive the quarter/eighth-pel interpolation end to end. The first
    macroblock of every P picture is I_PCM, so with the dense
    residuals the stream needs only the ``cbp_inter`` me(v) map
    injected (the same standing as Intra_4x4's ``cbp_intra``);
    coeff_token rides the table-free nC >= 8 branch throughout.

    ``mb_mode="p8x8"`` (r9) codes every inter macroblock as P_8x8
    with one sub_mb_type of EACH shape (8x8/8x4/4x8/4x4) across the
    four quadrants — exercising sub-macroblock partitioning and
    per-sub-partition MV prediction end to end (the global MV keeps
    prediction content identical, so the sub-partition syntax is the
    variable under test).

    ``declare_num_ref`` (r10): slice headers override
    num_ref_idx_l0_active to this value and every partition carries a
    te(v) ref_idx (always 0). With the encoder's max_num_ref_frames=1
    the DPB never holds more than one picture, so declare_num_ref=2
    pins the conformance rule that te(v) bit-width follows the
    DECLARED active count, not the decoder's DPB fill — a stream
    declaring 2 refs while 1 is buffered must still parse the
    ref_idx bits."""
    import numpy as np

    if mb_mode not in ("p16", "p8x8"):
        raise ValueError("mb_mode must be 'p16' or 'p8x8'")
    if declare_num_ref < 1:
        raise ValueError("declare_num_ref must be >= 1")
    p8x8 = mb_mode == "p8x8"
    if not frames:
        raise ValueError("need at least one frame")
    mvs = list(mvs) if mvs is not None else [(0, 0)] * (len(frames) - 1)
    if len(mvs) != len(frames) - 1:
        raise ValueError("mvs must cover frames 1..n-1")
    inv_cbp = None
    if len(frames) > 1:
        book = _need("cbp_intra", "inter")
        inv_cbp = {cbp: code for code, cbp in book.items()}
        if 15 not in inv_cbp:
            raise ValueError("injected cbp_inter map lacks cbp 15")

    padded = [_pad420(*f) for f in frames]
    ys0, cbs0, crs0, w, h, wm, hm = padded[0]
    for f in padded[1:]:
        if (f[3], f[4]) != (w, h):
            raise ValueError("all frames must share dimensions")
    out = bytearray(_write_sps_pps(wm, hm, w, h, init_qp=qp,
                                   max_ref=1))
    qdiv, qmod = qp // 6, qp % 6
    recons = []
    ref = None  # (y, cb, cr) numpy planes of the previous recon

    def plane_from(rows, pw, ph):
        pl = _Plane(pw, ph)
        for yy in range(ph):
            pl.px[yy * pw: (yy + 1) * pw] = rows[yy]
        return pl

    for fi, (fys, fcbs, fcrs, _w, _h, _wm, _hm) in enumerate(padded):
        sl = _W()
        if fi == 0:
            # IDR I_PCM picture: recon == padded source, table-free
            sl.ue(0)       # first_mb_in_slice
            sl.ue(7)       # slice_type: I (all slices)
            sl.ue(0)       # pps id
            sl.u(0, 4)     # frame_num
            sl.ue(0)       # idr_pic_id
            sl.u(1, 1)     # no_output_of_prior_pics
            sl.u(0, 1)     # long_term_reference
            sl.se(0)       # slice_qp_delta
            if deblock:
                sl.ue(0)
                sl.se(0)
                sl.se(0)
            else:
                sl.ue(1)
            for mb in range(wm * hm):
                mbx, mby = mb % wm, mb // wm
                sl.ue(25)  # I_PCM
                sl.byte_align_zero()
                for yy in range(16):
                    for xx in range(16):
                        sl.u(fys[16 * mby + yy][16 * mbx + xx], 8)
                for plane in (fcbs, fcrs):
                    for yy in range(8):
                        for xx in range(8):
                            sl.u(plane[8 * mby + yy][8 * mbx + xx], 8)
            out += _nal(sl.trailing(), 3, 5)
            ry = plane_from(fys, 16 * wm, 16 * hm)
            rcb = plane_from(fcbs, 8 * wm, 8 * hm)
            rcr = plane_from(fcrs, 8 * wm, 8 * hm)
            if deblock:
                # I_PCM MBs deblock at qP = 0: a no-op pass, replayed
                # for exactness anyway
                _deblock_picture(ry, rcb, rcr, wm, hm,
                                 [[qp] * wm for _ in range(hm)],
                                 [[True] * wm for _ in range(hm)],
                                 [[0] * wm for _ in range(hm)],
                                 [(0, 0, 0)], 0)
        else:
            mv = tuple(mvs[fi - 1])
            sl.ue(0)       # first_mb_in_slice
            sl.ue(5)       # slice_type: P (all slices)
            sl.ue(0)       # pps id
            sl.u(fi % 16, 4)  # frame_num
            if declare_num_ref > 1:
                sl.u(1, 1)  # num_ref_idx_active_override
                sl.ue(declare_num_ref - 1)
            else:
                sl.u(0, 1)  # num_ref_idx_active_override
            sl.u(0, 1)     # ref_pic_list_modification_flag_l0
            sl.u(0, 1)     # adaptive_ref_pic_marking_mode_flag
            sl.se(0)       # slice_qp_delta
            if deblock:
                sl.ue(0)
                sl.se(0)
                sl.se(0)
            else:
                sl.ue(1)
            ry = _Plane(16 * wm, 16 * hm)
            rcb = _Plane(8 * wm, 8 * hm)
            rcr = _Plane(8 * wm, 8 * hm)
            luma_nc = [[-1] * (4 * wm) for _ in range(4 * hm)]
            mv_g = [[None] * (4 * wm) for _ in range(4 * hm)]
            mb_ipcm = [[False] * wm for _ in range(hm)]

            def getmv(bx, by):
                if bx < 0 or by < 0 or bx >= 4 * wm or by >= 4 * hm:
                    return None
                return mv_g[by][bx]

            def nc_of(bx, by):
                na = luma_nc[by][bx - 1] if bx > 0 else -1
                nb = luma_nc[by - 1][bx] if by > 0 else -1
                if na >= 0 and nb >= 0:
                    return (na + nb + 1) >> 1
                return na if na >= 0 else (nb if nb >= 0 else 0)

            for mb in range(wm * hm):
                mbx, mby = mb % wm, mb // wm
                sl.ue(0)   # mb_skip_run
                if mb == 0:
                    sl.ue(30)  # I_PCM inside a P slice (5 + 25)
                    mb_ipcm[mby][mbx] = True
                    sl.byte_align_zero()
                    for yy in range(16):
                        for xx in range(16):
                            sl.u(fys[yy][xx], 8)
                    for plane in (fcbs, fcrs):
                        for yy in range(8):
                            for xx in range(8):
                                sl.u(plane[yy][xx], 8)
                    ry.put(0, 0, [row[:16] for row in fys[:16]])
                    rcb.put(0, 0, [row[:8] for row in fcbs[:8]])
                    rcr.put(0, 0, [row[:8] for row in fcrs[:8]])
                    for by in range(4):
                        for bx in range(4):
                            luma_nc[by][bx] = 16
                            mv_g[by][bx] = (0, 0, -1)
                    continue
                if p8x8:
                    sl.ue(3)   # mb_type: P_8x8
                    # one sub_mb_type of each shape per quadrant —
                    # exercises 8x8/8x4/4x8/4x4 sub-partitioning
                    sub_shapes = ((8, 8), (8, 4), (4, 8), (4, 4))
                    parts = []
                    for q in range(4):
                        sl.ue(q)   # sub_mb_type
                        qx, qy = 8 * (q % 2), 8 * (q // 2)
                        sw, sh = sub_shapes[q]
                        for sy in range(0, 8, sh):
                            for sx in range(0, 8, sw):
                                parts.append((qx + sx, qy + sy,
                                              sw, sh))
                    # te(v) ref indices: no bits when the declared
                    # active count is 1; always ref 0 otherwise
                    if declare_num_ref == 2:
                        for _ in range(4):
                            sl.u(1, 1)   # te(v) max 1: bit 1 -> 0
                    elif declare_num_ref > 2:
                        for _ in range(4):
                            sl.ue(0)
                else:
                    sl.ue(0)   # mb_type: P_L0_16x16
                    parts = [(0, 0, 16, 16)]
                    if declare_num_ref == 2:
                        sl.u(1, 1)       # te(v) max 1: bit 1 -> 0
                    elif declare_num_ref > 2:
                        sl.ue(0)
                pred16 = [[0] * 16 for _ in range(16)]
                cpredb = [[0] * 8 for _ in range(8)]
                cpredr = [[0] * 8 for _ in range(8)]
                for px, py, pw, ph in parts:
                    mpx, mpy = _mv_predict(
                        getmv, (16 * mbx + px) // 4,
                        (16 * mby + py) // 4, pw // 4, 0)
                    sl.se(mv[0] - mpx)
                    sl.se(mv[1] - mpy)
                    for by in range((16 * mby + py) // 4,
                                    (16 * mby + py + ph) // 4):
                        for bx in range((16 * mbx + px) // 4,
                                        (16 * mbx + px + pw) // 4):
                            mv_g[by][bx] = (mv[0], mv[1], 0)
                    blkp = _interp_luma(ref[0], 16 * mbx + px,
                                        16 * mby + py, pw, ph,
                                        mv[0], mv[1])
                    for yy in range(ph):
                        pred16[py + yy][px: px + pw] = blkp[yy]
                    cbk = _interp_chroma(ref[1], 8 * mbx + px // 2,
                                         8 * mby + py // 2,
                                         pw // 2, ph // 2,
                                         mv[0], mv[1])
                    crk = _interp_chroma(ref[2], 8 * mbx + px // 2,
                                         8 * mby + py // 2,
                                         pw // 2, ph // 2,
                                         mv[0], mv[1])
                    for yy in range(ph // 2):
                        cpredb[py // 2 + yy][
                            px // 2: px // 2 + pw // 2] = cbk[yy]
                        cpredr[py // 2 + yy][
                            px // 2: px // 2 + pw // 2] = crk[yy]
                sl.ue(inv_cbp[15])  # cbp: all luma, no chroma
                sl.se(0)            # mb_qp_delta
                out16 = [row[:] for row in pred16]
                for blk in range(16):
                    ox, oy = _BLK4_XY[blk]
                    bx = (16 * mbx + ox) // 4
                    by = (16 * mby + oy) // 4
                    res = [[fys[16 * mby + oy + yy][16 * mbx + ox + xx]
                            - pred16[oy + yy][ox + xx]
                            for xx in range(4)] for yy in range(4)]
                    scan = _quant_scan(_ftrans4(res), qp,
                                       skip_dc=False, dense=True)
                    _cavlc_write_block(sl, scan, nc_of(bx, by), 16)
                    luma_nc[by][bx] = sum(1 for v in scan if v)
                    d = [[0] * 4 for _ in range(4)]
                    for k, (i, j) in enumerate(_ZIG4):
                        c = scan[k]
                        if c:
                            d[i][j] = _dequant_ac(c, qmod, qdiv, i, j)
                    dres = _itrans4(d)
                    for yy in range(4):
                        for xx in range(4):
                            out16[oy + yy][ox + xx] = _clip8(
                                pred16[oy + yy][ox + xx]
                                + ((dres[yy][xx] + 32) >> 6))
                ry.put(16 * mbx, 16 * mby, out16)
                rcb.put(8 * mbx, 8 * mby,
                        [[_clip8(v) for v in row] for row in cpredb])
                rcr.put(8 * mbx, 8 * mby,
                        [[_clip8(v) for v in row] for row in cpredr])
            out += _nal(sl.trailing(), 2, 1)
            if deblock:
                _deblock_picture(ry, rcb, rcr, wm, hm,
                                 [[qp] * wm for _ in range(hm)],
                                 mb_ipcm,
                                 [[0] * wm for _ in range(hm)],
                                 [(0, 0, 0)], 0,
                                 luma_nc=luma_nc, mv_g=mv_g)
        ref = (_plane_np(ry), _plane_np(rcb), _plane_np(rcr))
        recons.append(_crop_planes(
            {"crop": (0, 0, 0, 0) if (w, h) == (16 * wm, 16 * hm)
             else (0, (16 * wm - w) // 2, 0, (16 * hm - h) // 2),
             "width": w, "height": h},
            ry, rcb, rcr))
    return bytes(out), recons


def encode_video(rgb_frames, qp: int = 10, mvs=None,
                 deblock: bool = False) -> bytes:
    """RGB frame list -> IPPP Annex-B stream (BT.601 full-range, 2x2
    chroma averaging — the same conversion as :func:`encode_ipcm`)."""
    return encode_video_yuv([_rgb_to_420(f) for f in rgb_frames],
                            qp=qp, mvs=mvs, deblock=deblock)[0]


def encode_video_skip(px_rows, frames: int) -> bytes:
    """RGB rows -> a ``frames``-picture clip: one I_PCM IDR followed
    by ALL-SKIP P pictures (one mb_skip_run covering the raster) —
    every P macroblock is P_Skip with a zero predictor, copying the
    reference. ZERO tables are consulted on either side, so this is
    the table-free multi-frame operating point (the video sibling of
    I_PCM / AAC silence), exercising the P slice header, skip-run
    machinery and MC copy path end to end."""
    ys, cbs, crs = _rgb_to_420(px_rows)
    ys, cbs, crs, w, h, wm, hm = _pad420(ys, cbs, crs)
    out = bytearray(_write_sps_pps(wm, hm, w, h, max_ref=1))
    sl = _W()
    sl.ue(0)
    sl.ue(7)       # I slice
    sl.ue(0)
    sl.u(0, 4)
    sl.ue(0)       # idr_pic_id
    sl.u(1, 1)
    sl.u(0, 1)
    sl.se(0)
    sl.ue(1)       # deblocking off
    for mb in range(wm * hm):
        mbx, mby = mb % wm, mb // wm
        sl.ue(25)
        sl.byte_align_zero()
        for yy in range(16):
            for xx in range(16):
                sl.u(ys[16 * mby + yy][16 * mbx + xx], 8)
        for plane in (cbs, crs):
            for yy in range(8):
                for xx in range(8):
                    sl.u(plane[8 * mby + yy][8 * mbx + xx], 8)
    out += _nal(sl.trailing(), 3, 5)
    for fi in range(1, frames):
        sl = _W()
        sl.ue(0)
        sl.ue(5)        # P slice
        sl.ue(0)
        sl.u(fi % 16, 4)
        sl.u(0, 1)      # num_ref override
        sl.u(0, 1)      # ref_pic_list_modification
        sl.u(0, 1)      # adaptive marking
        sl.se(0)
        sl.ue(1)        # deblocking off
        sl.ue(wm * hm)  # mb_skip_run: the whole picture
        out += _nal(sl.trailing(), 2, 1)
    return bytes(out)


def _rgb_to_420(px_rows):
    """RGB rows -> (Y, Cb, Cr) 4:2:0 planes (BT.601 full-range, 2x2
    chroma averaging)."""
    h, w = len(px_rows), len(px_rows[0])
    ys = [[0] * w for _ in range(h)]
    cbf = [[0.0] * w for _ in range(h)]
    crf = [[0.0] * w for _ in range(h)]
    for y in range(h):
        for x in range(w):
            r, g, b = px_rows[y][x]
            ys[y][x] = _clip8(round(0.299 * r + 0.587 * g + 0.114 * b))
            cbf[y][x] = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
            crf[y][x] = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    cbs = [[0] * ((w + 1) // 2) for _ in range((h + 1) // 2)]
    crs = [[0] * ((w + 1) // 2) for _ in range((h + 1) // 2)]
    for cy in range((h + 1) // 2):
        for cx in range((w + 1) // 2):
            pts = [(min(2 * cy + dy, h - 1), min(2 * cx + dx, w - 1))
                   for dy in (0, 1) for dx in (0, 1)]
            cbs[cy][cx] = _clip8(round(sum(cbf[a][b] for a, b in pts) / 4))
            crs[cy][cx] = _clip8(round(sum(crf[a][b] for a, b in pts) / 4))
    return ys, cbs, crs


def encode_ipcm(px_rows) -> bytes:
    """RGB rows -> I_PCM Annex-B stream (BT.601 full-range, 4:2:0
    chroma averaged over each 2x2). RGB round-trips within the usual
    color-conversion rounding (the YUV surface round-trips exactly)."""
    return encode_ipcm_yuv(*_rgb_to_420(px_rows))


# ------------------------------------------------- B-slice encoder (r10)

def encode_video_b_yuv(frames, qp: int = 10, mvs=((0, 0), (0, 0)),
                       weights=None, implicit: bool = False,
                       poc_p: int = 4, direct_mbs: bool = False):
    """Three DISPLAY-order 4:2:0 frames (f0, f1, f2) -> (Annex-B
    bytes, recon triples in DECODE order [I, P, B]): an I_PCM IDR
    (poc 0), a P picture of f2 coded as all-I_PCM-in-P macroblocks
    (poc 4, exact recon, zero entropy tables), then a NON-REFERENCE
    B picture of f1 (poc 2) whose inter macroblocks cycle
    B_L0_16x16 (list 0 = the I picture) / B_L1_16x16 (list 1 = the
    P picture) / B_Bi_16x16 with GLOBAL per-list motion vectors
    ``mvs = (mv_l0, mv_l1)`` in quarter-pel units and dense CAVLC
    luma residuals (first MB I_PCM, chroma prediction-only — the
    same dense discipline as :func:`encode_video_yuv`, needing only
    the ``cbp_inter`` seam).

    ``weights`` = {"lwd", "cwd", "w0": (w, o), "w1": (w, o),
    "c0"/"c1": ((w, o), (w, o))} emits explicit weighted
    bi-prediction (PPS weighted_bipred_idc = 1 + a pred_weight_table
    in the B slice header) and applies it in the replayed recon, so
    the weighted sample formulas self-check bit-exactly.

    ``implicit`` (r11) emits weighted_bipred_idc = 2 and replays the
    POC-distance implicit weights on every bi-predicted macroblock
    (``poc_p`` repositions the P anchor so the weights are asymmetric
    — the B sits at poc 2, so poc_p=8 yields the 48/16 split).
    ``direct_mbs`` (r11) extends the mode cycle with B_Direct_16x16
    under TEMPORAL direct (direct_spatial_mv_pred_flag = 0): the
    colocated PCM-P macroblocks are intra, so every direct block
    derives the zero MV against both anchors, per 8.4.1.2.2/3.

    Self-check role: the encoder replays the decoder's reference-list
    construction (POC-ordered), median MV prediction per list, MC
    interpolation and bi/weighted combination, so
    ``decode_video_yuv`` of the returned bytes is BIT-EXACT against
    the returned recons."""
    if len(frames) != 3:
        raise ValueError("encode_video_b_yuv takes exactly 3 frames")
    if weights and implicit:
        raise ValueError("explicit weights and implicit mode are "
                         "mutually exclusive (one idc per PPS)")
    mv0, mv1 = (tuple(mvs[0]), tuple(mvs[1]))
    book = _need("cbp_intra", "inter")
    inv_cbp = {cbp: code for code, cbp in book.items()}
    if 15 not in inv_cbp:
        raise ValueError("injected cbp_inter map lacks cbp 15")
    padded = [_pad420(*f) for f in frames]
    ys0, cbs0, crs0, w, h, wm, hm = padded[0]
    for f in padded[1:]:
        if (f[3], f[4]) != (w, h):
            raise ValueError("all frames must share dimensions")
    out = bytearray(_write_sps_pps(
        wm, hm, w, h, init_qp=qp, max_ref=2, poc0=True,
        wbipred=2 if implicit else (1 if weights else 0)))
    # B sits at poc 2: l0 = [I(0), P(poc_p)], l1 = [P, I]
    imp_w0, imp_w1 = _implicit_weights(2, 0, poc_p)
    qdiv, qmod = qp // 6, qp % 6

    def pcm_picture(fys, fcbs, fcrs, slice_type, frame_num, poc,
                    idr):
        sl = _W()
        sl.ue(0)                  # first_mb_in_slice
        sl.ue(slice_type)
        sl.ue(0)                  # pps id
        sl.u(frame_num, 4)
        if idr:
            sl.ue(0)              # idr_pic_id
        sl.u(poc, 6)              # pic_order_cnt_lsb
        if slice_type == 5:       # P: override/refmod
            sl.u(0, 1)
            sl.u(0, 1)
        if idr:
            sl.u(1, 1)
            sl.u(0, 1)
        else:
            sl.u(0, 1)            # adaptive marking
        sl.se(0)                  # slice_qp_delta
        sl.ue(1)                  # deblocking off
        for mb in range(wm * hm):
            if slice_type == 5:
                sl.ue(0)          # mb_skip_run
                sl.ue(30)         # I_PCM in a P slice
            else:
                sl.ue(25)         # I_PCM
            sl.byte_align_zero()
            mbx, mby = mb % wm, mb // wm
            for yy in range(16):
                for xx in range(16):
                    sl.u(fys[16 * mby + yy][16 * mbx + xx], 8)
            for plane in (fcbs, fcrs):
                for yy in range(8):
                    for xx in range(8):
                        sl.u(plane[8 * mby + yy][8 * mbx + xx], 8)
        return sl

    def plane_of(rows, pw, ph):
        pl = _Plane(pw, ph)
        for y, row in enumerate(rows):
            pl.px[y * pw: y * pw + pw] = row[:pw]
        return pl

    # ---- I (IDR, poc 0) and P (all PCM, poc 4): exact recons
    fys, fcbs, fcrs = padded[0][0], padded[0][1], padded[0][2]
    out += _nal(pcm_picture(fys, fcbs, fcrs, 7, 0, 0, True)
                .trailing(), 3, 5)
    ri = (plane_of(fys, 16 * wm, 16 * hm),
          plane_of(fcbs, 8 * wm, 8 * hm),
          plane_of(fcrs, 8 * wm, 8 * hm))
    fys2, fcbs2, fcrs2 = padded[2][0], padded[2][1], padded[2][2]
    out += _nal(pcm_picture(fys2, fcbs2, fcrs2, 5, 1, poc_p, False)
                .trailing(), 2, 1)
    rp = (plane_of(fys2, 16 * wm, 16 * hm),
          plane_of(fcbs2, 8 * wm, 8 * hm),
          plane_of(fcrs2, 8 * wm, 8 * hm))
    np_i = (_plane_np(ri[0]), _plane_np(ri[1]), _plane_np(ri[2]))
    np_p = (_plane_np(rp[0]), _plane_np(rp[1]), _plane_np(rp[2]))

    # ---- B picture of f1 (poc 2, non-reference)
    fys1, fcbs1, fcrs1 = padded[1][0], padded[1][1], padded[1][2]
    sl = _W()
    sl.ue(0)
    sl.ue(6)      # slice_type B (all slices)
    sl.ue(0)
    sl.u(2, 4)    # frame_num
    sl.u(2, 6)    # poc_lsb 2 -> between I (0) and P (poc_p)
    # temporal direct when the cycle includes direct MBs
    sl.u(0 if direct_mbs else 1, 1)  # direct_spatial_mv_pred_flag
    sl.u(0, 1)    # num_ref override
    sl.u(0, 1)    # ref mod l0
    sl.u(0, 1)    # ref mod l1
    if weights:
        sl.ue(weights["lwd"])
        sl.ue(weights["cwd"])
        for lk, ck in (("w0", "c0"), ("w1", "c1")):
            wv, ov = weights[lk]
            sl.u(1, 1)
            sl.se(wv)
            sl.se(ov)
            sl.u(1, 1)
            for cw, co in weights[ck]:
                sl.se(cw)
                sl.se(co)
    # non-reference (nal_ref_idc 0): no dec_ref_pic_marking
    sl.se(0)      # slice_qp_delta
    sl.ue(1)      # deblocking off

    ry = _Plane(16 * wm, 16 * hm)
    rcb = _Plane(8 * wm, 8 * hm)
    rcr = _Plane(8 * wm, 8 * hm)
    luma_nc = [[-1] * (4 * wm) for _ in range(4 * hm)]
    g0 = [[None] * (4 * wm) for _ in range(4 * hm)]
    g1 = [[None] * (4 * wm) for _ in range(4 * hm)]

    def getmv(grid):
        def f(bx, by):
            if bx < 0 or by < 0 or bx >= 4 * wm or by >= 4 * hm:
                return None
            return grid[by][bx]
        return f

    def nc_of(bx, by):
        na = luma_nc[by][bx - 1] if bx > 0 else -1
        nb = luma_nc[by - 1][bx] if by > 0 else -1
        if na >= 0 and nb >= 0:
            return (na + nb + 1) >> 1
        return na if na >= 0 else (nb if nb >= 0 else 0)

    def wp_y(blk, key):
        if not weights:
            return blk
        wv, ov = weights[key]
        return _wp_uni(blk, wv, ov, weights["lwd"])

    def wp_c(blk, key, ci):
        if not weights:
            return blk
        wv, ov = weights[key][ci]
        return _wp_uni(blk, wv, ov, weights["cwd"])

    for mb in range(wm * hm):
        mbx, mby = mb % wm, mb // wm
        sl.ue(0)      # mb_skip_run
        if mb == 0:   # I_PCM in a B slice seeds the nC contexts
            sl.ue(48)  # 23 + 25
            sl.byte_align_zero()
            for yy in range(16):
                for xx in range(16):
                    sl.u(fys1[yy][xx], 8)
            for plane in (fcbs1, fcrs1):
                for yy in range(8):
                    for xx in range(8):
                        sl.u(plane[yy][xx], 8)
            ry.put(0, 0, [row[:16] for row in fys1[:16]])
            rcb.put(0, 0, [row[:8] for row in fcbs1[:8]])
            rcr.put(0, 0, [row[:8] for row in fcrs1[:8]])
            for by in range(4):
                for bx in range(4):
                    luma_nc[by][bx] = 16
                    g0[by][bx] = (0, 0, -1)
                    g1[by][bx] = (0, 0, -1)
            continue
        if direct_mbs:
            mode = (mb - 1) % 4   # 0 = B_Direct_16x16, then L0/L1/Bi
        else:
            mode = (mb % 3) + 1   # 1 = B_L0, 2 = B_L1, 3 = B_Bi
        sl.ue(mode)
        if mode == 0:
            # temporal direct against intra colocated blocks: zero MV,
            # refIdx 0 both lists (8.4.1.2.2/3), no mvd/ref syntax
            use0 = use1 = True
            cmv0 = cmv1 = (0, 0)
        else:
            use0, use1 = mode != 2, mode != 1
            cmv0, cmv1 = mv0, mv1
        # te(v) refs: one per list per used list, but num_ref == 1
        # both lists -> zero bits
        bx0, by0 = 4 * mbx, 4 * mby
        if mode != 0:
            if use0:
                mpx, mpy = _mv_predict(getmv(g0), bx0, by0, 4, 0)
                sl.se(cmv0[0] - mpx)
                sl.se(cmv0[1] - mpy)
            if use1:
                mpx, mpy = _mv_predict(getmv(g1), bx0, by0, 4, 0)
                sl.se(cmv1[0] - mpx)
                sl.se(cmv1[1] - mpy)
        for by in range(by0, by0 + 4):
            for bx in range(bx0, bx0 + 4):
                g0[by][bx] = ((cmv0[0], cmv0[1], 0) if use0
                              else (0, 0, -1))
                g1[by][bx] = ((cmv1[0], cmv1[1], 0) if use1
                              else (0, 0, -1))
        # prediction: replay the decoder's combination
        y0 = _interp_luma(np_i[0], 16 * mbx, 16 * mby, 16, 16,
                          cmv0[0], cmv0[1]) if use0 else None
        y1 = _interp_luma(np_p[0], 16 * mbx, 16 * mby, 16, 16,
                          cmv1[0], cmv1[1]) if use1 else None
        cb0 = _interp_chroma(np_i[1], 8 * mbx, 8 * mby, 8, 8,
                             cmv0[0], cmv0[1]) if use0 else None
        cb1 = _interp_chroma(np_p[1], 8 * mbx, 8 * mby, 8, 8,
                             cmv1[0], cmv1[1]) if use1 else None
        cr0 = _interp_chroma(np_i[2], 8 * mbx, 8 * mby, 8, 8,
                             cmv0[0], cmv0[1]) if use0 else None
        cr1 = _interp_chroma(np_p[2], 8 * mbx, 8 * mby, 8, 8,
                             cmv1[0], cmv1[1]) if use1 else None
        if use0 and use1:
            if implicit:
                pred16 = _wp_bi(y0, y1, imp_w0, 0, imp_w1, 0, 5)
                cpredb = _wp_bi(cb0, cb1, imp_w0, 0, imp_w1, 0, 5)
                cpredr = _wp_bi(cr0, cr1, imp_w0, 0, imp_w1, 0, 5)
            elif weights:
                (w0, o0), (w1, o1) = weights["w0"], weights["w1"]
                pred16 = _wp_bi(y0, y1, w0, o0, w1, o1,
                                weights["lwd"])
                (b0w, b0o), (r0w, r0o) = weights["c0"]
                (b1w, b1o), (r1w, r1o) = weights["c1"]
                cpredb = _wp_bi(cb0, cb1, b0w, b0o, b1w, b1o,
                                weights["cwd"])
                cpredr = _wp_bi(cr0, cr1, r0w, r0o, r1w, r1o,
                                weights["cwd"])
            else:
                pred16 = _bi_avg(y0, y1)
                cpredb = _bi_avg(cb0, cb1)
                cpredr = _bi_avg(cr0, cr1)
        elif use0:
            pred16 = wp_y(y0, "w0")
            cpredb = wp_c(cb0, "c0", 0)
            cpredr = wp_c(cr0, "c0", 1)
        else:
            pred16 = wp_y(y1, "w1")
            cpredb = wp_c(cb1, "c1", 0)
            cpredr = wp_c(cr1, "c1", 1)
        sl.ue(inv_cbp[15])   # cbp: all luma, no chroma
        sl.se(0)             # mb_qp_delta
        out16 = [row[:] for row in pred16]
        for blk in range(16):
            ox, oy = _BLK4_XY[blk]
            bx = (16 * mbx + ox) // 4
            by = (16 * mby + oy) // 4
            res = [[fys1[16 * mby + oy + yy][16 * mbx + ox + xx]
                    - pred16[oy + yy][ox + xx]
                    for xx in range(4)] for yy in range(4)]
            scan = _quant_scan(_ftrans4(res), qp, skip_dc=False,
                               dense=True)
            _cavlc_write_block(sl, scan, nc_of(bx, by), 16)
            luma_nc[by][bx] = sum(1 for v in scan if v)
            d = [[0] * 4 for _ in range(4)]
            for k, (i, j) in enumerate(_ZIG4):
                c = scan[k]
                if c:
                    d[i][j] = _dequant_ac(c, qmod, qdiv, i, j)
            dres = _itrans4(d)
            for yy in range(4):
                for xx in range(4):
                    out16[oy + yy][ox + xx] = _clip8(
                        pred16[oy + yy][ox + xx]
                        + ((dres[yy][xx] + 32) >> 6))
        ry.put(16 * mbx, 16 * mby, out16)
        rcb.put(8 * mbx, 8 * mby,
                [[_clip8(v) for v in row] for row in cpredb])
        rcr.put(8 * mbx, 8 * mby,
                [[_clip8(v) for v in row] for row in cpredr])
    out += _nal(sl.trailing(), 0, 1)

    crop_sps = {"crop": (0, (16 * wm - w) // 2, 0, (16 * hm - h) // 2)
                if (w, h) != (16 * wm, 16 * hm) else (0, 0, 0, 0),
                "width": w, "height": h}
    recons = [_crop_planes(crop_sps, *ri),
              _crop_planes(crop_sps, *rp),
              _crop_planes(crop_sps, ry, rcb, rcr)]
    return bytes(out), recons


def encode_video_b_skip(px_rows, temporal: bool = False,
                        implicit: bool = False,
                        poc_p: int = 4,
                        direct8x8: bool = False) -> bytes:
    """RGB rows -> a 3-picture clip that is fully TABLE-FREE on both
    sides: an I_PCM IDR (poc 0), an all-I_PCM-in-P reference picture
    of the SAME content (poc ``poc_p``), and a non-reference
    all-B_Skip picture between them (poc 2) — every B macroblock
    direct-predicts to zero motion with zero-valued references in
    both lists and bi-combines the two identical references, so the B
    recon equals the I picture exactly. Exercises the B slice header,
    skip-run machinery, POC-ordered list construction and the
    bi-prediction combination with ZERO entropy tables (the B sibling
    of :func:`encode_video_skip`).

    ``temporal`` (r11) emits direct_spatial_mv_pred_flag = 0 — the
    colocated PCM macroblocks are intra, so temporal direct derives
    the zero MV too. ``implicit`` emits weighted_bipred_idc = 2: the
    identity still holds for ANY POC split because the implicit
    weights always sum to 64 with zero offsets —
    ((p*w0 + p*w1 + 32) >> 6) == p — so an asymmetric ``poc_p``
    pins the weighted path by exactness, table-free."""
    ys, cbs, crs = _rgb_to_420(px_rows)
    b, _ = _encode_video_b_skip_build(ys, cbs, crs,
                                      temporal=temporal,
                                      implicit=implicit, poc_p=poc_p,
                                      direct8x8=direct8x8)
    return b


def _encode_video_b_skip_build(ys, cbs, crs, temporal=False,
                               implicit=False, poc_p=4,
                               direct8x8=False):
    ys, cbs, crs, w, h, wm, hm = _pad420(ys, cbs, crs)
    out = bytearray(_write_sps_pps(wm, hm, w, h, max_ref=2,
                                   poc0=True,
                                   wbipred=2 if implicit else 0,
                                   direct8x8=direct8x8))

    def pcm(slice_type, frame_num, poc, idr, ref_idc, typ):
        sl = _W()
        sl.ue(0)
        sl.ue(slice_type)
        sl.ue(0)
        sl.u(frame_num, 4)
        if idr:
            sl.ue(0)
        sl.u(poc, 6)
        if slice_type == 5:
            sl.u(0, 1)
            sl.u(0, 1)
        if idr:
            sl.u(1, 1)
            sl.u(0, 1)
        else:
            sl.u(0, 1)
        sl.se(0)
        sl.ue(1)
        for mb in range(wm * hm):
            if slice_type == 5:
                sl.ue(0)
                sl.ue(30)
            else:
                sl.ue(25)
            sl.byte_align_zero()
            mbx, mby = mb % wm, mb // wm
            for yy in range(16):
                for xx in range(16):
                    sl.u(ys[16 * mby + yy][16 * mbx + xx], 8)
            for plane in (cbs, crs):
                for yy in range(8):
                    for xx in range(8):
                        sl.u(plane[8 * mby + yy][8 * mbx + xx], 8)
        return _nal(sl.trailing(), ref_idc, typ)

    out += pcm(7, 0, 0, True, 3, 5)
    out += pcm(5, 1, poc_p, False, 2, 1)
    sl = _W()
    sl.ue(0)
    sl.ue(6)      # B slice
    sl.ue(0)
    sl.u(2, 4)
    sl.u(2, 6)    # poc_lsb 2
    sl.u(0 if temporal else 1, 1)    # direct_spatial
    sl.u(0, 1)
    sl.u(0, 1)
    sl.u(0, 1)
    sl.se(0)
    sl.ue(1)
    sl.ue(wm * hm)   # one skip run covering the picture
    out += _nal(sl.trailing(), 0, 1)
    return bytes(out), None

