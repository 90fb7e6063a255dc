"""AAC-LC (ISO/IEC 14496-3 MPEG-4 Audio) ADTS decode + engine
encoders — the dominant audio coding of crawled MP4/web media, scoped
with the same build-vs-seam discipline as the MP3 / CCITT / H.264
codecs (SCALE.md round-8 analysis; Annex-B policy: large tabulated
spec constants are never reproduced from memory).

Reference parity note: the reference ETL repo has no media handling;
this exists for the LLM-data-pipeline addendum (PCM extraction for
audio fingerprinting / MFCC features over binary audio columns, and
the audio half of crawled MP4s next to operators/mp4.py's video
demux).

What is STRUCTURAL here (public 14496-3 coding structure, formula
level or self-checking):
  - ADTS framing: syncword/profile/rate-index/channel-config headers,
    CRC skip, frame walk (the 13-entry sampling-frequency enum is
    header structure, like the MP3 rate enum)
  - the raw_data_block element walk (SCE/CPE/DSE/FIL/END), ics_info
    (window sequences, short-window grouping), section data,
    scalefactor DPCM chain, pulse data, TNS filter parse
  - TNS coefficient dequantization (the published sin() formula) and
    the order-recursion to LPC, plus the all-pole synthesis filter
  - inverse quantization x = sign(q)*|q|^(4/3) and the 2^(0.25(sf-100))
    scalefactor gain; M/S (l=m+s, r=m-s) and intensity-stereo scaling
    2^(-0.25*is_position); pulse amplitude restore; PNS noise energy
    (the PRNG itself is implementation-defined by the spec — the
    engine uses a deterministic LCG, documented)
  - the IMDCT filterbank: N=2048/256 modified DCT (formula), sine and
    Kaiser-Bessel-derived windows (both closed-form; KBD via the I0
    series), all four window sequences, 50% overlap-add
  - ENGINE ENCODERS as self-check operating points:
    ``aac_encode_silence`` emits max_sfb=0 frames — ZERO codebooks or
    band grids are consulted on either side, so encode->decode
    round-trips with the seam completely EMPTY and pins the whole
    ADTS/element/ICS container path (the I_PCM / layer3-table-0
    role). ``aac_encode_quantized`` codes real PCM through the MDCT
    at a fixed global gain using escape-book (11) pairs and
    delta-zero scalefactors; it replays the decoder's dequant +
    filterbank on its own quantized spectra, so encode->decode is
    FLOAT-EXACT against the returned recon and the source-error
    bound makes the dequant/scalefactor formulas self-checking
    (a one-sided scaling bug blows the bound even though the round
    trip stays consistent).

What is a DATA SEAM (``load_aac_tables(path_or_dict)`` /
``$SPARK_GRAFT_AAC_TABLES`` — the same validated-loader pattern as
mpeg_layer3.load_huffman_tables, ccitt.load_t4_tables and
h264.load_cavlc_tables):
  - the spectral Huffman codebooks 1..11 (4-tuples for 1..4, pairs
    for 5..11, escape handling for 11 is formula-level) — key
    ``"spectral"``
  - the scalefactor codebook (121 entries, DPCM index - 60) — key
    ``"sf"``
  - the scalefactor-band offset grids per sampling-rate index — keys
    ``"swb_long"`` / ``"swb_short"`` (the engine quantized encoder
    accepts any injected grid; foreign streams need the real ones)
  - OPTIONAL ``"tns_max_band"`` ({"long"/"short": {rate_idx: n}});
    when absent the engine clamps TNS bands at the stream's own
    max_sfb — a documented conformance caveat that only affects
    foreign streams using TNS above max_sfb (rare)

NOT in scope (raise namefully): MAIN-profile prediction, SSR gain
control, LTP, CCE coupling / PCE program config, SBR/PS extensions
(HE-AAC — the FIL extension payload is skipped, decoding the LC core
per the spec's core-compatibility rule), and 960-sample framing.
LFE elements decode (SCE-shaped, r9); multi-program frames decode
their first program.
"""

from __future__ import annotations

import math
import struct

__all__ = [
    "load_aac_tables",
    "adts_frames",
    "aac_decode",
    "aac_encode_silence",
    "aac_encode_quantized",
]

_TABLES_ENV = "SPARK_GRAFT_AAC_TABLES"
_env_load_done = False

#: sampling_frequency_index -> rate (header structure, 14496-3)
_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
          16000, 12000, 11025, 8000, 7350)

#: codebook structure (not data): dimensions and signedness
_QUAD_BOOKS = frozenset((1, 2, 3, 4))
_UNSIGNED_BOOKS = frozenset((3, 4, 7, 8, 9, 10, 11))
ZERO_HCB = 0
ESC_HCB = 11
NOISE_HCB = 13
INTENSITY_HCB2 = 14
INTENSITY_HCB = 15

#: loaded seam data
TABLES: dict[str, dict] = {"sf": {}, "spectral": {}, "swb_long": {},
                           "swb_short": {}, "tns_max_band": {}}


def _check_prefix_free(codes) -> None:
    by_len: dict[int, set[int]] = {}
    for hlen, code in codes:
        by_len.setdefault(hlen, set()).add(code)
    for hlen, code in codes:
        for l2, cs in by_len.items():
            if l2 < hlen and (code >> (hlen - l2)) in cs:
                raise ValueError(
                    f"AAC codebook not prefix-free: ({hlen}, {code:#b})"
                )


def load_aac_tables(source) -> int:
    """Inject the AAC codebooks / band grids (Annex-B seam) from a
    dict or a JSON file shaped::

        {"sf":       [[hlen, code, index], ...],        # index 0..120
         "spectral": {"1".."11": [[hlen, code, v...], ...]},
                     # 4 values for books 1..4, 2 for books 5..11;
                     # unsigned books (3,4,7..11) carry magnitudes
         "swb_long":  {"<rate_idx>": [0, ..., 1024]},
         "swb_short": {"<rate_idx>": [0, ..., 128]},
         "tns_max_band": {"long": {"<rate_idx>": n}, "short": {...}}}

    Validates widths, monotonicity, and prefix-freeness; returns the
    number of tables loaded. ``$SPARK_GRAFT_AAC_TABLES`` is the
    no-code-change route (auto-loaded on the first decode that needs
    a table)."""
    import json

    if isinstance(source, (str, bytes)):
        with open(source) as fh:
            source = json.load(fh)
    n = 0
    sf_spec = source.get("sf")
    if sf_spec:
        book = {}
        for hlen, code, idx in sf_spec:
            if not (1 <= hlen <= 19 and 0 <= code < (1 << hlen)
                    and 0 <= idx <= 120):
                raise ValueError("sf: bad entry")
            book[(hlen, code)] = idx - 60
        _check_prefix_free(book)
        TABLES["sf"]["sf"] = book
        n += 1
    for key, spec in (source.get("spectral") or {}).items():
        cb = int(key)
        if not 1 <= cb <= 11:
            raise ValueError(f"spectral codebook {key!r} out of range")
        dim = 4 if cb in _QUAD_BOOKS else 2
        book = {}
        for entry in spec:
            hlen, code = entry[0], entry[1]
            vals = tuple(entry[2:])
            if (len(vals) != dim or not 1 <= hlen <= 19
                    or not 0 <= code < (1 << hlen)):
                raise ValueError(f"spectral[{key}]: bad entry")
            if cb in _UNSIGNED_BOOKS and any(v < 0 for v in vals):
                raise ValueError(
                    f"spectral[{key}]: unsigned book with negatives"
                )
            book[(hlen, code)] = vals
        _check_prefix_free(book)
        TABLES["spectral"][cb] = book
        n += 1
    for grid_key, total in (("swb_long", 1024), ("swb_short", 128)):
        for key, offs in (source.get(grid_key) or {}).items():
            ridx = int(key)
            if not 0 <= ridx < len(_RATES):
                raise ValueError(f"{grid_key}: rate index {key!r}")
            if (len(offs) < 2 or offs[0] != 0 or offs[-1] != total
                    or any(offs[i] >= offs[i + 1]
                           for i in range(len(offs) - 1))):
                raise ValueError(
                    f"{grid_key}[{key}]: offsets must rise 0..{total}"
                )
            TABLES[grid_key][ridx] = list(offs)
            n += 1
    tmb = source.get("tns_max_band")
    if tmb:
        for kind in ("long", "short"):
            for key, v in (tmb.get(kind) or {}).items():
                TABLES["tns_max_band"][(kind, int(key))] = int(v)
        n += 1
    return n


def _try_env_tables() -> bool:
    global _env_load_done
    if _env_load_done:
        return False
    import os

    path = os.environ.get(_TABLES_ENV)
    if not (path and os.path.exists(path)):
        # do NOT latch: honor an env var set after a failed decode
        return False
    load_aac_tables(path)
    _env_load_done = True
    return True


def _need(family: str, key):
    t = TABLES[family].get(key)
    if t is None and _try_env_tables():
        t = TABLES[family].get(key)
    if t is None:
        raise NotImplementedError(
            f"AAC {family}[{key}] is Annex-B data — "
            "load_aac_tables(path) or $SPARK_GRAFT_AAC_TABLES injects "
            "it (module docstring seam note)"
        )
    return t


# -------------------------------------------------------------- bit io

class _R:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.d = data
        self.pos = pos  # bit position

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.d[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def byte_align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def vlc(self, book: dict, what: str, max_len: int = 19):
        code, ln = 0, 0
        for _ in range(max_len):
            code = (code << 1) | self.u(1)
            ln += 1
            hit = book.get((ln, code))
            if hit is not None:
                return hit
        raise ValueError(f"invalid {what} code in AAC bitstream")


class _W:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def u(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def byte_align_zero(self) -> None:
        while len(self.bits) % 8:
            self.bits.append(0)

    def tobytes(self) -> bytes:
        self.byte_align_zero()
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i: i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


# ---------------------------------------------------------------- ADTS

def adts_frames(data: bytes):
    """Yield (header dict, reader positioned at the raw_data_block,
    frame end bit) for each ADTS frame. Header structure per
    14496-3: 0xFFF sync with layer bits 00 (which is what separates
    ADTS from an MPEG-1/2 audio sync at the same offset)."""
    pos = 0
    n = len(data)
    while pos + 7 <= n:
        if not (data[pos] == 0xFF and (data[pos + 1] & 0xF6) == 0xF0):
            raise ValueError("lost ADTS sync")
        r = _R(data, pos * 8 + 12)
        hdr = {
            "mpeg2": r.u(1),
            "layer": r.u(2),
            "crc_absent": r.u(1),
            "profile": r.u(2),          # 1 = AAC-LC ("object type" - 1)
            "rate_idx": r.u(4),
            "private": r.u(1),
            "channels": r.u(3),
            "orig": r.u(1), "home": r.u(1),
            "cid": r.u(1), "cstart": r.u(1),
        }
        hdr["frame_len"] = r.u(13)
        hdr["fullness"] = r.u(11)
        hdr["blocks"] = r.u(2)
        if hdr["layer"] != 0:
            raise ValueError("ADTS layer bits must be 00")
        if hdr["rate_idx"] >= len(_RATES):
            raise ValueError(f"reserved rate index {hdr['rate_idx']}")
        if hdr["profile"] != 1:
            raise NotImplementedError(
                f"ADTS profile {hdr['profile']} — AAC-LC (1) only "
                "(MAIN prediction / SSR gain control out of scope)"
            )
        if hdr["blocks"] != 0:
            raise NotImplementedError(
                "multiple raw_data_blocks per ADTS frame"
            )
        if hdr["frame_len"] < 7 or pos + hdr["frame_len"] > n:
            raise ValueError("ADTS frame overruns the stream")
        if not hdr["crc_absent"]:
            r.u(16)
        hdr["rate"] = _RATES[hdr["rate_idx"]]
        yield hdr, r, (pos + hdr["frame_len"]) * 8
        pos += hdr["frame_len"]


# ---------------------------------------------------------- ICS parse

def _swb_offsets(rate_idx: int, short: bool) -> list[int]:
    return _need("swb_short" if short else "swb_long", rate_idx)


def _ics_info(r: _R, rate_idx: int) -> dict:
    if r.u(1):
        raise ValueError("ics_reserved_bit set")
    seq = r.u(2)
    shape = r.u(1)
    if seq == 2:  # EIGHT_SHORT_SEQUENCE
        max_sfb = r.u(4)
        grouping = r.u(7)
        groups = [1]
        for i in range(7):
            if (grouping >> (6 - i)) & 1:
                groups[-1] += 1
            else:
                groups.append(1)
        num_windows = 8
    else:
        max_sfb = r.u(6)
        if r.u(1):
            raise NotImplementedError(
                "predictor_data_present — MAIN-profile prediction"
            )
        groups = [1]
        num_windows = 1
    ics = {"seq": seq, "shape": shape, "max_sfb": max_sfb,
           "groups": groups, "num_windows": num_windows,
           "short": seq == 2, "rate_idx": rate_idx}
    if max_sfb:
        swb = _swb_offsets(rate_idx, seq == 2)
        if max_sfb > len(swb) - 1:
            raise ValueError(
                f"max_sfb {max_sfb} exceeds the injected band grid "
                f"({len(swb) - 1} bands)"
            )
        ics["swb"] = swb
    else:
        ics["swb"] = [0, 128 if seq == 2 else 1024]
    return ics


def _section_data(r: _R, ics: dict) -> list[list[int]]:
    bits = 3 if ics["short"] else 5
    esc = (1 << bits) - 1
    out = []
    for _g in ics["groups"]:
        row: list[int] = []
        while len(row) < ics["max_sfb"]:
            cb = r.u(4)
            ln = 0
            while True:
                inc = r.u(bits)
                ln += inc
                if inc != esc:
                    break
            if ln == 0 or len(row) + ln > ics["max_sfb"]:
                raise ValueError("bad section length")
            row += [cb] * ln
        out.append(row)
    return out


def _scale_factor_data(r: _R, cb_map: list[list[int]],
                       global_gain: int) -> list[list]:
    sf_book = None
    sf = global_gain
    is_pos = 0
    noise = global_gain - 90
    noise_first = True
    out = []
    for row in cb_map:
        grow = []
        for cb in row:
            if cb == ZERO_HCB:
                grow.append(None)
                continue
            if cb in (INTENSITY_HCB, INTENSITY_HCB2):
                if sf_book is None:
                    sf_book = _need("sf", "sf")
                is_pos += r.vlc(sf_book, "scalefactor")
                grow.append(is_pos)
            elif cb == NOISE_HCB:
                if noise_first:
                    noise += r.u(9) - 256
                    noise_first = False
                else:
                    if sf_book is None:
                        sf_book = _need("sf", "sf")
                    noise += r.vlc(sf_book, "scalefactor")
                grow.append(noise)
            else:
                if sf_book is None:
                    sf_book = _need("sf", "sf")
                sf += r.vlc(sf_book, "scalefactor")
                grow.append(sf)
        out.append(grow)
    return out


def _pulse_data(r: _R) -> tuple[int, list[tuple[int, int]]]:
    n = r.u(2) + 1
    start_sfb = r.u(6)
    return start_sfb, [(r.u(5), r.u(4)) for _ in range(n)]


def _tns_data(r: _R, ics: dict) -> list[list[tuple]]:
    short = ics["short"]
    out = []
    for _w in range(ics["num_windows"]):
        n_filt = r.u(1 if short else 2)
        coef_res = r.u(1) if n_filt else 0
        wf = []
        for _ in range(n_filt):
            length = r.u(4 if short else 6)
            order = r.u(3 if short else 5)
            direction = compress = 0
            coefs: list[int] = []
            if order:
                direction = r.u(1)
                compress = r.u(1)
                nb = coef_res + 3 - compress
                coefs = [r.u(nb) for _ in range(order)]
            wf.append((length, order, direction, coef_res, compress,
                       coefs))
        out.append(wf)
    return out


def _tns_lpc(order: int, coef_res: int, compress: int,
             coefs: list[int]) -> list[float]:
    """Coded TNS coefficients -> LPC: the published sin() inverse
    quantizer and the order recursion (14496-3 tns_decode_coef)."""
    nb = coef_res + 3 - compress
    res = coef_res + 3
    iqfac = ((1 << (res - 1)) - 0.5) / (math.pi / 2)
    iqfac_m = ((1 << (res - 1)) + 0.5) / (math.pi / 2)
    dq = []
    for c in coefs:
        if c >= 1 << (nb - 1):   # sign-extend the compressed width
            c -= 1 << nb
        dq.append(math.sin(c / (iqfac if c >= 0 else iqfac_m)))
    a = [1.0]
    for m in range(1, order + 1):
        k = dq[m - 1]
        a = ([1.0]
             + [a[i] + k * a[m - i] for i in range(1, m)]
             + [k])
    return a[1:]


def _tns_apply(spec: list[float], start: int, end: int,
               lpc: list[float], direction: int) -> None:
    """All-pole synthesis filtering over spec[start:end) in place."""
    idx = (list(range(end - 1, start - 1, -1)) if direction
           else list(range(start, end)))
    for i, pos in enumerate(idx):
        acc = spec[pos]
        for j, c in enumerate(lpc, 1):
            if i - j >= 0:
                acc -= c * spec[idx[i - j]]
        spec[pos] = acc


def _spectral_data(r: _R, ics: dict, cb_map: list[list[int]]):
    """-> per-group quantized coefficient arrays (group-interleaved
    short-window layout, exactly as coded)."""
    swb = ics["swb"]
    out = []
    for g, gw in enumerate(ics["groups"]):
        buf = [0] * (gw * (128 if ics["short"] else 1024))
        base = 0
        for sfb in range(ics["max_sfb"]):
            width = (swb[sfb + 1] - swb[sfb]) * gw
            cb = cb_map[g][sfb]
            if cb in (ZERO_HCB, NOISE_HCB, INTENSITY_HCB,
                      INTENSITY_HCB2):
                base += width
                continue
            if cb == 12 or cb > 15:
                raise ValueError(f"reserved spectral codebook {cb}")
            book = _need("spectral", cb)
            k = 0
            while k < width:
                vals = list(r.vlc(book, f"spectral[{cb}]"))
                if cb in _UNSIGNED_BOOKS:
                    vals = [(-v if v and r.u(1) else v) for v in vals]
                if cb == ESC_HCB:
                    for i, v in enumerate(vals):
                        if abs(v) == 16:
                            nones = 0
                            while r.u(1):
                                nones += 1
                            mag = (1 << (nones + 4)) + r.u(nones + 4)
                            vals[i] = -mag if v < 0 else mag
                for v in vals:
                    buf[base + k] = v
                    k += 1
            if k != width:
                raise ValueError("spectral tuple overruns the band")
            base += width
        out.append(buf)
    return out


# ------------------------------------------------------------ dequant

def _dequant_band(qs, sf: int) -> list[float]:
    gain = 2.0 ** (0.25 * (sf - 100))
    return [math.copysign(abs(q) ** (4.0 / 3.0), q) * gain if q else 0.0
            for q in qs]


def _lcg_noise(seed: int, n: int) -> tuple[list[float], int]:
    vals = []
    for _ in range(n):
        seed = (seed * 1103515245 + 12345) & 0x7FFFFFFF
        vals.append(seed / 0x40000000 - 1.0)
    return vals, seed


# --------------------------------------------------------- filterbank

_WIN_CACHE: dict = {}


def _kbd_half(n_half: int, alpha: float) -> list[float]:
    """Left half of the Kaiser-Bessel-derived window (closed form;
    vectorized — a pure-Python I0 series here was a measured ~0.1 s
    per-worker import tax)."""
    import numpy as np

    j = np.arange(n_half + 1, dtype=np.float64)
    kern = np.i0(math.pi * alpha
                 * np.sqrt(np.maximum(0.0,
                                      1.0 - (2.0 * j / n_half - 1.0) ** 2)))
    cum = np.cumsum(kern)
    return list(np.sqrt(cum[:n_half] / cum[n_half]))


def _win_half(n_half: int, shape: int, right: bool) -> list[float]:
    key = (n_half, shape, right)
    w = _WIN_CACHE.get(key)
    if w is None:
        if shape:  # KBD; alpha 4 for the long window, 6 for short
            left = _kbd_half(n_half, 4.0 if n_half == 1024 else 6.0)
        else:
            left = [math.sin(math.pi / (2 * n_half) * (i + 0.5))
                    for i in range(n_half)]
        w = left[::-1] if right else left
        _WIN_CACHE[key] = w
    return w


def _cos_grid(n: int):
    """cos(2*pi/n * (i + 0.5 + n/4)(k + 0.5)) for the (n, n/2) MDCT
    grid via an integer-indexed 4n-entry cosine table: the argument is
    pi/(2n) * (2i + 1 + n/2)(2k + 1), an integer multiple of pi/(2n)
    with period 4n — 8k cos evaluations instead of n*n/2 (a measured
    ~0.3 s per-worker import tax with the naive outer product)."""
    import numpy as np

    g = _WIN_CACHE.get(("grid", n))
    if g is None:
        idx = np.outer(2 * np.arange(n) + 1 + n // 2,
                       2 * np.arange(n // 2) + 1) % (4 * n)
        table = np.cos(np.pi / (2 * n) * np.arange(4 * n))
        g = table[idx]
        _WIN_CACHE[("grid", n)] = g
    return g


def _imdct_mat(n: int):
    m = _WIN_CACHE.get(("mat", n))
    if m is None:
        m = (2.0 / n) * _cos_grid(n)
        _WIN_CACHE[("mat", n)] = m
    return m


def _imdct(spec, n: int):
    import numpy as np

    if not any(spec):
        # zero spectrum -> zero block; silence frames (the seam-free
        # engine operating point) never pay the matrix build
        return np.zeros(n)
    return _imdct_mat(n) @ np.asarray(spec, dtype=np.float64)


def _frame_time(spec_windows, ics: dict, prev_shape: int):
    """Windowed 2048-sample frame buffer from per-window spectra."""
    import numpy as np

    shape = ics["shape"]
    buf = np.zeros(2048)
    if ics["short"]:
        wl_prev = np.array(_win_half(128, prev_shape, False))
        wl_cur = np.array(_win_half(128, shape, False))
        wr = np.array(_win_half(128, shape, True))
        for w in range(8):
            x = _imdct(spec_windows[w], 256)
            x[:128] *= wl_prev if w == 0 else wl_cur
            x[128:] *= wr
            off = 448 + 128 * w
            buf[off: off + 256] += x
        return buf
    x = _imdct(spec_windows[0], 2048)
    seq = ics["seq"]
    if seq == 0:       # ONLY_LONG
        x[:1024] *= _win_half(1024, prev_shape, False)
        x[1024:] *= _win_half(1024, shape, True)
    elif seq == 1:     # LONG_START
        x[:1024] *= _win_half(1024, prev_shape, False)
        x[1472:1600] *= _win_half(128, shape, True)
        x[1600:] = 0.0
    elif seq == 3:     # LONG_STOP
        x[:448] = 0.0
        x[448:576] *= _win_half(128, prev_shape, False)
        x[1024:] *= _win_half(1024, shape, True)
    buf += x
    return buf


class _Synth:
    """Per-channel overlap-add state shared by decoder and encoder
    replay (identical float path => bit-exact self-checks)."""

    def __init__(self) -> None:
        import numpy as np

        self.overlap = np.zeros(1024)
        self.prev_shape = 0
        self.first = True

    def add(self, spec_windows, ics: dict) -> list[float]:
        shape = ics["shape"]
        prev = shape if self.first else self.prev_shape
        buf = _frame_time(spec_windows, ics, prev)
        out = self.overlap + buf[:1024]
        self.overlap = buf[1024:]
        self.prev_shape = shape
        self.first = False
        return out.tolist()


# -------------------------------------------------------- ICS decode

def _decode_ics(r: _R, ics: dict, rate_idx: int):
    """individual_channel_stream -> (per-window spectra, cb_map, sfs,
    ics). Handles section/scalefactor/pulse/TNS/spectral data and
    dequantization; M/S, intensity and PNS are applied by the caller
    (they need both channels / the channel element context)."""
    global_gain = r.u(8)
    if "swb" not in ics:  # not common_window: parse our own ics_info
        ics = _ics_info(r, rate_idx)
    cb_map = _section_data(r, ics)
    sfs = _scale_factor_data(r, cb_map, global_gain)
    pulse = None
    if r.u(1):
        if ics["short"]:
            raise ValueError("pulse data with short windows")
        pulse = _pulse_data(r)
    tns = None
    if r.u(1):
        tns = _tns_data(r, ics)
    if r.u(1):
        raise NotImplementedError("SSR gain control in an LC stream")
    groups_q = _spectral_data(r, ics, cb_map)

    swb = ics["swb"]
    if pulse:
        start_sfb, pulses = pulse
        if start_sfb >= len(swb):
            raise ValueError("pulse start band beyond the grid")
        k = swb[start_sfb]
        for off, amp in pulses:
            k += off
            q = groups_q[0][k]
            groups_q[0][k] = q - amp if q < 0 else q + amp

    # dequantize per band; zero/noise/intensity bands stay 0 for now
    groups_x = []
    for g, gw in enumerate(ics["groups"]):
        width_w = 128 if ics["short"] else 1024
        buf = [0.0] * (gw * width_w)
        base = 0
        for sfb in range(ics["max_sfb"]):
            width = (swb[sfb + 1] - swb[sfb]) * gw
            cb = cb_map[g][sfb]
            if cb not in (ZERO_HCB, NOISE_HCB, INTENSITY_HCB,
                          INTENSITY_HCB2):
                buf[base: base + width] = _dequant_band(
                    groups_q[g][base: base + width], sfs[g][sfb])
            base += width
        groups_x.append(buf)
    return groups_x, cb_map, sfs, ics, tns


def _deinterleave(groups_x, ics: dict):
    """Group-interleaved coded layout -> per-window spectra."""
    if not ics["short"]:
        return [groups_x[0]]
    swb = ics["swb"]
    wins = [[0.0] * 128 for _ in range(8)]
    w0 = 0
    for g, gw in enumerate(ics["groups"]):
        buf = groups_x[g]
        base = 0
        for sfb in range(len(swb) - 1):
            lo, hi = swb[sfb], swb[sfb + 1]
            if sfb >= ics["max_sfb"]:
                break
            width = hi - lo
            for wi in range(gw):
                seg = buf[base + wi * width: base + (wi + 1) * width]
                wins[w0 + wi][lo:hi] = seg
            base += width * gw
        w0 += gw
    return wins


def _apply_tns(wins, ics: dict, tns) -> None:
    if not tns:
        return
    swb = ics["swb"]
    n_swb = len(swb) - 1
    kind = "short" if ics["short"] else "long"
    tmb = TABLES["tns_max_band"].get((kind, ics["rate_idx"]))
    if tmb is None:
        # documented caveat: clamp at the stream's own band count
        tmb = n_swb
    mx = min(tmb, ics["max_sfb"], n_swb)
    for w, wf in enumerate(tns):
        bottom = n_swb
        for (length, order, direction, coef_res, compress,
             coefs) in wf:
            top = bottom
            bottom = max(top - length, 0)
            if not order:
                continue
            lpc = _tns_lpc(order, coef_res, compress, coefs)
            start = swb[min(bottom, mx)]
            end = swb[min(top, mx)]
            if end > start:
                _tns_apply(wins[w], start, end, lpc, direction)


def _apply_pns_is(groups_x, cb_maps, sfs_pair, ics_pair, ms_used,
                  seed: int, stereo: bool):
    """PNS noise fill (both channels) and intensity stereo (right from
    left), operating on the group-interleaved buffers. Returns the
    updated LCG seed (deterministic engine PRNG — the spec leaves the
    generator implementation-defined).

    ``ics_pair`` is one ics dict per channel: with common_window=0 the
    two channels of a CPE carry their OWN window/band geometry, so each
    channel's band walk uses its own ics. PNS correlation (14496-3):
    when ms_used is set for a band that is NOISE_HCB in both channels,
    the right channel reuses the SAME left-channel random vector
    (fully correlated noise — faad2/FDK agree; the energy stays
    channel-coded). ms_used is only present with common_window=1,
    where the geometries are identical by construction."""
    nch = 2 if stereo else 1
    left_noise: dict = {}   # (g, sfb) -> raw left-channel LCG vector
    for ch in range(nch):
        ics = ics_pair[ch]
        swb = ics["swb"]
        for g, gw in enumerate(ics["groups"]):
            base = 0
            for sfb in range(ics["max_sfb"]):
                width = (swb[sfb + 1] - swb[sfb]) * gw
                cb = cb_maps[ch][g][sfb]
                if cb == NOISE_HCB:
                    if (ch == 1 and ms_used and ms_used[g][sfb]
                            and (g, sfb) in left_noise):
                        noise = left_noise[g, sfb]
                    else:
                        noise, seed = _lcg_noise(seed, width)
                        if ch == 0 and stereo:
                            left_noise[g, sfb] = noise
                    rms = math.sqrt(sum(v * v for v in noise) / width)
                    gain = 2.0 ** (0.25 * sfs_pair[ch][g][sfb]) / (
                        rms or 1.0)
                    groups_x[ch][g][base: base + width] = [
                        v * gain for v in noise]
                elif ch == 1 and cb in (INTENSITY_HCB,
                                        INTENSITY_HCB2):
                    sign = 1.0 if cb == INTENSITY_HCB else -1.0
                    if ms_used and ms_used[g][sfb]:
                        sign = -sign
                    scale = sign * 2.0 ** (-0.25
                                           * sfs_pair[1][g][sfb])
                    groups_x[1][g][base: base + width] = [
                        v * scale
                        for v in groups_x[0][g][base: base + width]]
                base += width
    return seed


def _apply_ms(groups_x, cb_maps, ics: dict, ms_used) -> None:
    if not ms_used:
        return
    swb = ics["swb"]
    for g, gw in enumerate(ics["groups"]):
        base = 0
        for sfb in range(ics["max_sfb"]):
            width = (swb[sfb + 1] - swb[sfb]) * gw
            cbr = cb_maps[1][g][sfb]
            if (ms_used[g][sfb]
                    and cbr not in (NOISE_HCB, INTENSITY_HCB,
                                    INTENSITY_HCB2)):
                left = groups_x[0][g]
                right = groups_x[1][g]
                for k in range(base, base + width):
                    m, s = left[k], right[k]
                    left[k] = m + s
                    right[k] = m - s
            base += width


# -------------------------------------------------------------- decode

def aac_decode(data: bytes):
    """ADTS AAC-LC / HE-AAC v1 stream -> (rate, nch, [channel sample
    lists] in [-1, 1]). Decodes the first SCE/CPE/LFE program element
    of every frame (later audio elements are parsed for bit sync and
    discarded — first-program rule); DSE and plain FIL are skipped.
    A FIL extension payload carrying EXT_SBR_DATA (13/14) routes to
    ``operators/sbr.py`` (r11): the core output runs through the SBR
    chain and the stream decodes at TWICE the core rate (implicit
    HE-AAC signalling). SBR needs its table seam — absent tables
    raise namefully rather than silently playing the half-rate core."""
    from data_migration_etl_scripts_spark.operators import sbr as _sbr

    rate = None
    nch = 0
    synths: list[_Synth] = []
    chans: list[list[float]] = []
    seed = 0x2A
    sbr_st: dict = {"header": None, "bands": None, "chans": None,
                    "prev": None, "active": False}
    for hdr, r, _end in adts_frames(data):
        rate = hdr["rate"]
        rate_idx = hdr["rate_idx"]
        got_audio = False
        frame_core: list | None = None
        sbr_data = None
        while True:
            ele = r.u(3)
            if ele == 7:  # END
                break
            if ele in (0, 3):  # SCE / LFE (identical element syntax)
                r.u(4)  # element_instance_tag
                groups_x, cb_map, sfs, ics, tns = _decode_ics(
                    r, {}, rate_idx)
                if got_audio:
                    continue  # later program elements: parsed for
                    # bit sync, output discarded (first-program rule)
                seed = _apply_pns_is([groups_x], [cb_map], [sfs],
                                     [ics], None, seed, False)
                wins = _deinterleave(groups_x, ics)
                _apply_tns(wins, ics, tns)
                if not synths:
                    synths = [_Synth()]
                    chans = [[]]
                    nch = 1
                frame_core = [synths[0].add(wins, ics)]
                got_audio = True
            elif ele == 1:  # CPE
                r.u(4)
                common = r.u(1)
                ms_used = None
                if common:
                    ics = _ics_info(r, rate_idx)
                    ms_present = r.u(2)
                    if ms_present == 2:
                        ms_used = [[1] * ics["max_sfb"]
                                   for _ in ics["groups"]]
                    elif ms_present == 1:
                        ms_used = [[r.u(1)
                                    for _ in range(ics["max_sfb"])]
                                   for _ in ics["groups"]]
                    elif ms_present == 3:
                        raise ValueError("ms_mask_present 3 reserved")
                    l = _decode_ics(r, dict(ics), rate_idx)
                    rr = _decode_ics(r, dict(ics), rate_idx)
                else:
                    l = _decode_ics(r, {}, rate_idx)
                    rr = _decode_ics(r, {}, rate_idx)
                if got_audio:
                    continue  # later program elements: parsed for
                    # bit sync, output discarded (first-program rule)
                (lx, lcb, lsf, lics, ltns) = l
                (rx, rcb, rsf, rics, rtns) = rr
                seed = _apply_pns_is([lx, rx], [lcb, rcb],
                                     [lsf, rsf], [lics, rics],
                                     ms_used, seed, True)
                _apply_ms([lx, rx], [lcb, rcb], lics, ms_used)
                lw = _deinterleave(lx, lics)
                rw = _deinterleave(rx, rics)
                _apply_tns(lw, lics, ltns)
                _apply_tns(rw, rics, rtns)
                if not synths:
                    synths = [_Synth(), _Synth()]
                    chans = [[], []]
                    nch = 2
                frame_core = [synths[0].add(lw, lics),
                              synths[1].add(rw, rics)]
                got_audio = True
            elif ele == 4:  # DSE
                r.u(4)
                algn = r.u(1)
                cnt = r.u(8)
                if cnt == 255:
                    cnt += r.u(8)
                if algn:
                    r.byte_align()
                r.pos += 8 * cnt
            elif ele == 6:  # FIL
                cnt = r.u(4)
                if cnt == 15:
                    cnt += r.u(8) - 1
                endpos = r.pos + 8 * cnt
                if cnt:
                    ext = r.u(4)
                    if ext in (13, 14) and frame_core is not None:
                        sbr_data = _sbr_fil(r, ext == 14, sbr_st,
                                            rate * 2,
                                            len(frame_core), _sbr)
                r.pos = endpos
            elif ele in (2, 5):
                raise NotImplementedError(
                    "CCE coupling / PCE program config elements"
                )
            else:
                raise ValueError(f"unexpected syntactic element {ele}")
        if not got_audio:
            raise ValueError("ADTS frame without an audio element")
        if sbr_data is not None:
            if not sbr_st["active"] and any(chans):
                # frames decoded before the first SBR header arrived
                # were appended at the 1024-sample core rate; the
                # whole stream is returned at the doubled SBR rate,
                # so zero-order-hold those leading samples to keep
                # their wall-clock duration correct
                for ci in range(len(chans)):
                    chans[ci] = [v for v in chans[ci]
                                 for _ in (0, 1)]
            sbr_st["active"] = True
            outs = _sbr_frame(sbr_st, frame_core, sbr_data, _sbr)
            if len(outs) > len(chans):
                # PS upgraded the mono core to stereo output:
                # duplicate any earlier mono history into the new
                # channel and report 2 channels
                chans += [list(chans[0])
                          for _ in range(len(outs) - len(chans))]
                nch = len(outs)
            for ci, out in enumerate(outs):
                chans[ci] += out
        else:
            if sbr_st["active"]:
                raise ValueError(
                    "HE-AAC stream dropped its SBR payload mid-"
                    "stream (frame-length bookkeeping would desync)")
            for ci, out in enumerate(frame_core):
                chans[ci] += out
    if rate is None:
        raise ValueError("no ADTS frames in stream")
    if sbr_st["active"]:
        rate *= 2
    scale = 1.0 / 32768.0
    return rate, nch, [[v * scale for v in ch] for ch in chans]


def _sbr_fil(r, crc: bool, st: dict, fs_out: int, n_ch: int, sb):
    """Parse one SBR FIL extension: header (persisted), band
    derivation on header change, then the channel data. Returns the
    parsed data dict or None when no header has arrived yet."""
    if crc:
        r.u(10)
    if r.u(1):
        newh = sb.parse_sbr_header(r)
        if newh != st["header"]:
            st["header"] = newh
            st["bands"] = None
    if st["header"] is None:
        return None   # sbr_data only decodes once a header arrived
    if st["bands"] is None:
        st["bands"] = sb.derive_bands(st["header"], fs_out)
        st["chans"] = [sb.SbrChannel() for _ in range(n_ch)]
        st["prev"] = [None] * n_ch
    data = sb.parse_sbr_data(r, st["header"], st["bands"],
                             n_ch == 2, st["prev"],
                             ps_prev=st.get("ps_prev"))
    for ci, ch in enumerate(data["ch"]):
        st["prev"][ci] = (ch["env"][-1],
                          ch["grid"]["freq_res"][-1],
                          ch["noise"][-1])
    ps = data.get("ps")
    if ps is not None:
        st["ps_prev"] = {
            "config": ps["config"],
            "iid_idx": (ps["iid_idx"][-1] if ps["iid_idx"]
                        else (st.get("ps_prev") or {}).get(
                            "iid_idx")),
            "icc_idx": (ps["icc_idx"][-1] if ps["icc_idx"]
                        else (st.get("ps_prev") or {}).get(
                            "icc_idx")),
        }
    return data


def _sbr_frame(st: dict, frame_core: list, data: dict, sb) -> list:
    """Dequantize (decoupling the CPE pair when coupled) and run the
    per-channel SBR chain over this frame's core outputs."""
    chs = data["ch"]
    if data["coupling"]:
        e0, e1, q0, q1 = sb.decouple(
            chs[0]["env"], chs[1]["env"], chs[0]["noise"],
            chs[1]["noise"], chs[0]["grid"])
        lin = [(e0, q0), (e1, q1)]
    else:
        lin = [(sb.dequant_env(c["env"], c["grid"]),
                sb.dequant_noise(c["noise"])) for c in chs]
    ps_data = data.get("ps")
    if ps_data is not None and len(frame_core) == 1:
        # HE-AAC v2 (r12 staged): the mono SBR chain splits into two
        # QMF-scaled synthesis paths per operators/ps.py
        from data_migration_etl_scripts_spark.operators import (
            ps as _ps,
        )

        scales, final = _ps.frame_slot_scales(
            ps_data, st.get("ps_scale"))
        st["ps_scale"] = final
        if st.get("ps_syn") is None:
            st["ps_syn"] = sb.QmfSynthesis64()
        env_lin, noise_lin = lin[0]
        left, right = sb.process_frame(
            st["chans"][0], frame_core[0], st["header"],
            st["bands"], chs[0], env_lin, noise_lin,
            ps_slots=scales, syn_r=st["ps_syn"])
        return [left, right]
    out = []
    for ci, core in enumerate(frame_core):
        env_lin, noise_lin = lin[ci]
        out.append(sb.process_frame(
            st["chans"][ci], core, st["header"], st["bands"],
            chs[ci], env_lin, noise_lin))
    return out


# ------------------------------------------------------------ encoders

def _adts_header(w: _W, rate_idx: int, channels: int,
                 frame_len: int) -> None:
    w.u(0xFFF, 12)
    w.u(0, 1)       # MPEG-4
    w.u(0, 2)       # layer
    w.u(1, 1)       # no CRC
    w.u(1, 2)       # profile: AAC-LC
    w.u(rate_idx, 4)
    w.u(0, 1)
    w.u(channels, 3)
    w.u(0, 4)       # orig/home/copyright id/start
    w.u(frame_len, 13)
    w.u(0x7FF, 11)  # buffer fullness: VBR
    w.u(0, 2)       # one raw_data_block


def _silent_sce(w: _W) -> None:
    w.u(0, 3)    # SCE
    w.u(0, 4)    # instance tag
    w.u(0, 8)    # global_gain
    w.u(0, 1)    # ics_reserved
    w.u(0, 2)    # ONLY_LONG
    w.u(0, 1)    # sine shape
    w.u(0, 6)    # max_sfb = 0 -> no sections, no scalefactors
    w.u(0, 1)    # predictor_data_present
    w.u(0, 1)    # pulse
    w.u(0, 1)    # tns
    w.u(0, 1)    # gain control
    w.u(7, 3)    # END
    w.byte_align_zero()


def aac_encode_sbr(frames: int = 2, rate_idx: int = 8,
                   num_env: int = 1, freq_res: int = 0,
                   env_val: int = 0, noise_val: int = 30,
                   invf_mode: int = 0, header=None,
                   ps_iid=None, ps_iid_mode: int = 0,
                   grids=None, env_rows=None,
                   noise_rows=None) -> bytes:
    """HE-AAC v1 engine operating point: a silent AAC-LC SCE core
    with one SBR FIL extension per frame (implicit signalling, header
    in every frame so decode can start anywhere). The FIXFIX grid,
    flat delta-f envelopes at ``env_val`` and noise floors at
    ``noise_val`` exercise the full parse -> band-table -> QMF -> HF
    generation -> envelope-adjust -> synthesis chain; with the silent
    core the output is pure adjusted noise, deterministic through the
    seam noise table. Needs the SBR table seam on BOTH sides (the
    huffman books code the flat runs' zero deltas)."""
    from data_migration_etl_scripts_spark.operators import sbr as sb

    h = {"amp_res": 1, "start_freq": 0, "stop_freq": 0,
         "xover_band": 0, "freq_scale": 0, "alter_scale": 0,
         "noise_bands": 2, "limiter_bands": 2, "limiter_gains": 2,
         "interpol_freq": 1, "smoothing_mode": 1}
    if header:
        h.update(header)
    fs_out = _RATES[rate_idx] * 2
    bands = sb.derive_bands(h, fs_out)
    out = bytearray()
    for fi in range(frames):
        body = _W()
        # the silent SCE, without END (the FIL rides between them)
        body.u(0, 3)
        body.u(0, 4)
        body.u(0, 8)
        body.u(0, 1)
        body.u(0, 2)
        body.u(0, 1)
        body.u(0, 6)
        body.u(0, 1)
        body.u(0, 1)
        body.u(0, 1)
        body.u(0, 1)
        sbrw = _W()
        sbrw.u(13, 4)          # extension_type EXT_SBR_DATA
        sbrw.u(1, 1)           # bs_header_flag
        sb.write_sbr_header(sbrw, h)
        if grids is not None:
            # r12 cross-frame VAR operating point: one explicit grid
            # spec + env/noise value rows per frame
            sb.write_sbr_sce_grid(sbrw, h, bands, grids[fi],
                                  env_rows[fi], noise_rows[fi],
                                  invf_mode)
        else:
            env_vals = [[env_val] * bands["n"][freq_res]
                        for _ in range(num_env)]
            noise_vals = [[noise_val] * bands["n_q"]
                          for _ in range(1 if num_env == 1 else 2)]
            sb.write_sbr_sce(sbrw, h, bands, num_env, freq_res,
                             env_vals, noise_vals, invf_mode,
                             ps_iid=ps_iid, ps_iid_mode=ps_iid_mode)
        cnt = (len(sbrw.bits) + 7) // 8
        if cnt >= 15:
            body.u(6, 3)       # FIL
            body.u(15, 4)
            body.u(cnt - 14, 8)
        else:
            body.u(6, 3)
            body.u(cnt, 4)
        body.bits.extend(sbrw.bits)
        body.bits.extend([0] * (8 * cnt - len(sbrw.bits)))
        body.u(7, 3)           # END
        body.byte_align_zero()
        payload = body.tobytes()
        hdr = _W()
        _adts_header(hdr, rate_idx, 1, 7 + len(payload))
        out += hdr.tobytes() + payload
    return bytes(out)


def aac_encode_silence(frames: int = 8, rate_idx: int = 4,
                       channels: int = 1) -> bytes:
    """ADTS AAC-LC silence: max_sfb = 0 frames consult ZERO codebooks
    or band grids on either side — the seam-empty self-check operating
    point for the whole ADTS/element/ICS container path (the same
    role as H.264 I_PCM and MP3 table-0)."""
    out = bytearray()
    for _ in range(frames):
        body = _W()
        if channels == 2:
            body.u(1, 3)   # CPE
            body.u(0, 4)
            body.u(1, 1)   # common_window
            body.u(0, 1)
            body.u(0, 2)
            body.u(0, 1)
            body.u(0, 6)   # max_sfb = 0
            body.u(0, 1)   # predictor
            body.u(0, 2)   # ms_mask_present = 0
            for _ch in range(2):
                body.u(0, 8)   # global_gain
                body.u(0, 1)   # pulse
                body.u(0, 1)   # tns
                body.u(0, 1)   # gain control
            body.u(7, 3)
            body.byte_align_zero()
        else:
            _silent_sce(body)
        payload = body.tobytes()
        hdr = _W()
        _adts_header(hdr, rate_idx, channels, 7 + len(payload))
        out += hdr.tobytes() + payload
    return bytes(out)


def _mdct_mat(n: int):
    m = _WIN_CACHE.get(("fmat", n))
    if m is None:
        m = 2.0 * _cos_grid(n).T
        _WIN_CACHE[("fmat", n)] = m
    return m


def _sf_delta_zero_code(sf_book: dict) -> tuple[int, int]:
    for (hlen, code), v in sf_book.items():
        if v == 0:
            return hlen, code
    raise ValueError("injected sf codebook has no delta-0 entry")


def _esc_book_encode(book: dict):
    """Inverse map for escape-book (11) pairs: (a, b) magnitudes
    clamped at 16 -> (hlen, code)."""
    inv = {}
    for (hlen, code), vals in book.items():
        inv[tuple(vals)] = (hlen, code)
    return inv


def _write_esc_pairs(body: _W, qs, n: int, inv) -> None:
    """Escape-book (11) pair coding over qs[:n] (n even): codeword,
    sign bits for nonzero magnitudes, then formula-level escape
    sequences for |q| >= 16."""
    k = 0
    while k < n:
        va, vb = qs[k], qs[k + 1]
        ca, cb_ = min(abs(va), 16), min(abs(vb), 16)
        hlen, code = inv[(ca, cb_)]
        body.u(code, hlen)
        for v, c in ((va, ca), (vb, cb_)):
            if c:
                body.u(1 if v < 0 else 0, 1)
        for v, c in ((va, ca), (vb, cb_)):
            if c == 16:
                mag = abs(v)
                nones = max(0, mag.bit_length() - 5)
                body.u((1 << nones) - 1, nones)
                body.u(0, 1)
                body.u(mag - (1 << (nones + 4)), nones + 4)
        k += 2


def aac_encode_quantized(pcm, rate_idx: int = 4, global_gain: int = 70,
                         short: bool = False):
    """Mono PCM in [-1, 1] -> (ADTS bytes, recon list): sine-window
    frames with escape-book (11) spectral pairs and delta-zero
    scalefactors at a fixed global gain. Needs the band grid(s) for
    the rate plus spectral book 11 and the sf book injected (any
    valid tables round-trip — tests use synthetic ones; foreign
    decoders need the real books).

    ``short=False`` emits ONLY_LONG frames. ``short=True`` (r9) emits
    the conformant transition pattern LONG_START -> EIGHT_SHORT... ->
    LONG_STOP (eight 256-point MDCTs per short frame, one group per
    window), exercising the decoder's grouping/deinterleave/short
    filterbank and the window-sequence overlap identities end to end.

    The encoder replays the decoder's dequant + IMDCT + overlap-add
    on its own quantized spectra, so ``aac_decode`` of the returned
    bytes is FLOAT-EXACT against the returned recon, and the
    source-error bound in tests pins the dequant/scalefactor formulas
    (one-sided scaling bugs break it even though the round trip stays
    consistent)."""
    import numpy as np

    swb = _need("swb_long", rate_idx)
    swb_s = _need("swb_short", rate_idx) if short else None
    for grid in (swb, swb_s) if short else (swb,):
        if any(v % 2 for v in grid):
            raise ValueError(
                "quantized encoder needs even band offsets (pair "
                "codewords must align with band boundaries; real AAC "
                "grids are multiples of 4)"
            )
    book = _need("spectral", ESC_HCB)
    sf_book = _need("sf", "sf")
    inv = _esc_book_encode(book)
    sf0_len, sf0_code = _sf_delta_zero_code(sf_book)
    max_sfb = len(swb) - 1
    max_sfb_s = len(swb_s) - 1 if short else 0

    x = np.asarray(list(pcm), dtype=np.float64) * 32768.0
    n_frames = max(3 if short else 1, -(-len(x) // 1024) + 1)
    x = np.concatenate([np.zeros(1024), x,
                        np.zeros(1024 * (n_frames + 1) - len(x))])
    # per-frame window sequences: START -> SHORT... -> STOP when short
    seqs = ([1] + [2] * (n_frames - 2) + [3]) if short \
        else [0] * n_frames

    wl = np.array(_win_half(1024, 0, False))
    wr = np.array(_win_half(1024, 0, True))
    ws_l = np.array(_win_half(128, 0, False))
    ws_r = np.array(_win_half(128, 0, True))
    long_wins = {
        0: np.concatenate([wl, wr]),
        1: np.concatenate([wl, np.ones(448), ws_r, np.zeros(448)]),
        3: np.concatenate([np.zeros(448), ws_l, np.ones(448), wr]),
    }
    short_win = np.concatenate([ws_l, ws_r])
    fmat = _mdct_mat(2048)
    fmat_s = _mdct_mat(256) if short else None
    step = 2.0 ** (0.25 * (global_gain - 100))

    def quant(spec):
        q = np.sign(spec) * np.floor(np.abs(spec / step) ** 0.75
                                     + 0.4054)
        return [int(v) for v in np.clip(q, -8191, 8191)]

    out = bytearray()
    synth = _Synth()
    recon: list[float] = []
    for f, seq in enumerate(seqs):
        frame = x[1024 * f: 1024 * f + 2048]
        if seq == 2:
            specs = [quant(fmat_s @ (frame[448 + 128 * w8:
                                           448 + 128 * w8 + 256]
                                     * short_win))
                     for w8 in range(8)]
            grid, ms, sect_bits = swb_s, max_sfb_s, 3
            ics = {"seq": 2, "shape": 0, "max_sfb": ms,
                   "groups": [1] * 8, "num_windows": 8,
                   "short": True, "rate_idx": rate_idx, "swb": grid}
        else:
            # forward MDCT normalized so fmat -> _imdct_mat -> OLA is
            # the identity (Princen-Bradley; pinned by the PR test)
            specs = [quant(fmat @ (frame * long_wins[seq]))]
            grid, ms, sect_bits = swb, max_sfb, 5
            ics = {"seq": seq, "shape": 0, "max_sfb": ms,
                   "groups": [1], "num_windows": 1, "short": False,
                   "rate_idx": rate_idx, "swb": grid}
        body = _W()
        body.u(0, 3)               # SCE
        body.u(0, 4)
        body.u(global_gain, 8)
        body.u(0, 1)               # ics_reserved
        body.u(seq, 2)
        body.u(0, 1)               # sine
        if seq == 2:
            body.u(ms, 4)
            body.u(0, 7)           # grouping: 8 groups of 1 window
        else:
            body.u(ms, 6)
            body.u(0, 1)           # predictor
        esc = (1 << sect_bits) - 1
        for _g in range(len(specs)):
            # one ESC_HCB section covering all ms bands per group
            body.u(ESC_HCB, 4)
            rem = ms
            while rem >= esc:
                body.u(esc, sect_bits)
                rem -= esc
            body.u(rem, sect_bits)
        for _ in range(len(specs) * ms):   # delta-0 scalefactors
            body.u(sf0_code, sf0_len)
        body.u(0, 1)               # pulse
        body.u(0, 1)               # tns
        body.u(0, 1)               # gain control
        for qs in specs:
            _write_esc_pairs(body, qs, grid[ms], inv)
        body.u(7, 3)               # END
        payload = body.tobytes()
        hdr = _W()
        _adts_header(hdr, rate_idx, 1, 7 + len(payload))
        out += hdr.tobytes() + payload

        # decoder replay: dequant + synthesize via the shared path
        wins = []
        for qs in specs:
            buf = [0.0] * (128 if seq == 2 else 1024)
            base = 0
            for sfb in range(ms):
                w_ = grid[sfb + 1] - grid[sfb]
                buf[base: base + w_] = _dequant_band(
                    qs[base: base + w_], global_gain)
                base += w_
            wins.append(buf)
        recon += synth.add(wins, ics)
    scale = 1.0 / 32768.0
    return bytes(out), [v * scale for v in recon]
