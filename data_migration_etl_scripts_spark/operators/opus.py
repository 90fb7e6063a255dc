"""Opus (RFC 6716) — staged r12 operating point.

Reference parity note: the reference repo (GARAGE-POS ETL) has no
codec surface; this exists for the multimodal ingest path, where
crawled Ogg audio is Opus at least as often as Vorbis.

Layered per the build-vs-seam policy:

- **Container / TOC / frame packing** (RFC 6716 §3, RFC 7845 Ogg
  mapping): pure structure — the TOC byte (config -> mode/bandwidth/
  frame duration, stereo flag, frame-count code), codes 0..3
  including the two-byte length form, CBR/VBR rule checks, padding;
  OpusHead/OpusTags parsing with pre-skip.
- **Range coder** (§4.1): pure structure — decoder and encoder
  implemented as the spec's procedures (32-bit value/range, byte-at-a-time renormalization
  with carry propagation on the encode side); reads past the frame
  end return zero bytes per §4.1.2.
- **CELT silence operating point**: a CELT-only frame whose FIRST
  coded symbol — the silence flag at logp 15 (§4.3.1) — is set
  carries no further content: the frame decodes to zeros with ZERO
  tables on either side. The engine encoder emits exactly these
  frames, so Ogg-Opus streams round-trip seam-free.
- **Seam family 9** (``load_opus_tables`` /
  ``$SPARK_GRAFT_OPUS_TABLES``): the CELT static tables a
  NON-silent frame needs first — the eBands edge table and the band
  allocation matrix (tabulated spec data, Tables 55-57 region).
  The non-silence CELT path and SILK/hybrid modes raise namefully.
"""

from __future__ import annotations

import json
import os
import struct

_TABLES_ENV = "SPARK_GRAFT_OPUS_TABLES"

#: seam storage: "ebands" = 22 increasing band edges (in units of
#: 4 bins at LM=0), "alloc" = 21 rows x 11 quality columns of
#: 1/8-bit-per-bin allocations
OPUS: dict[str, object] = {"ebands": None, "alloc": None}


def load_opus_tables(source) -> int:
    """Inject the CELT static tables (dict, JSON string, or path).
    Keys: ``"ebands"`` (22 strictly increasing ints, first 0) and
    ``"alloc"`` (21 rows of 11 non-negative ints). Returns the
    number of families loaded."""
    if isinstance(source, (str, bytes)):
        s = source.decode() if isinstance(source, bytes) else source
        if "{" not in s:
            with open(s, "rb") as fh:
                source = json.load(fh)
        else:
            source = json.loads(s)
    if not isinstance(source, dict):
        raise ValueError("Opus table source must be a dict/JSON")
    n = 0
    eb = source.get("ebands")
    if eb is not None:
        vals = [int(v) for v in eb]
        if (len(vals) != 22 or vals[0] != 0
                or any(vals[i] >= vals[i + 1] for i in range(21))):
            raise ValueError(
                "ebands must be 22 strictly increasing band edges "
                "starting at 0")
        OPUS["ebands"] = vals
        n += 1
    al = source.get("alloc")
    if al is not None:
        rows = [[int(v) for v in row] for row in al]
        if (len(rows) != 21 or any(len(r) != 11 for r in rows)
                or any(v < 0 for r in rows for v in r)):
            raise ValueError(
                "alloc must be 21 rows of 11 non-negative values")
        OPUS["alloc"] = rows
        n += 1
    return n


_env_tried = False


def _try_env_tables() -> bool:
    global _env_tried
    if _env_tried:
        return False
    src = os.environ.get(_TABLES_ENV)
    if not src:
        return False
    load_opus_tables(src)
    _env_tried = True
    return True


def seam_available() -> bool:
    if OPUS["ebands"] is None or OPUS["alloc"] is None:
        _try_env_tables()
    return OPUS["ebands"] is not None and OPUS["alloc"] is not None


# ------------------------------------------------------ TOC / packing

#: frame duration in 48 kHz samples per config number (Table 2):
#: SILK 0..11 {10, 20, 40, 60} ms per bandwidth trio, hybrid 12..15
#: {10, 20} ms, CELT 16..31 {2.5, 5, 10, 20} ms per bandwidth quad
def _config_samples(config: int) -> int:
    if config < 12:          # SILK-only
        return (480, 960, 1920, 2880)[config % 4]
    if config < 16:          # hybrid
        return (480, 960)[config % 2]
    return (120, 240, 480, 960)[config % 4]


def _config_mode(config: int) -> str:
    if config < 12:
        return "silk"
    if config < 16:
        return "hybrid"
    return "celt"


def parse_packet(pkt: bytes) -> dict:
    """Opus packet -> {config, mode, stereo, samples_per_frame,
    frames: [bytes, ...]} per RFC 6716 §3.2 (codes 0..3, two-byte
    frame lengths, code-3 padding). Malformed packets raise
    ValueError with the §3.4 rule that failed."""
    if not pkt:
        raise ValueError("empty Opus packet")
    toc = pkt[0]
    config = toc >> 3
    stereo = (toc >> 2) & 1
    code = toc & 3
    body = pkt[1:]

    def read_len(b: bytes, at: int):
        if at >= len(b):
            raise ValueError("Opus frame length truncated")
        v = b[at]
        if v < 252:
            return v, at + 1
        if at + 1 >= len(b):
            raise ValueError("Opus two-byte frame length truncated")
        return v + 4 * b[at + 1], at + 2

    if code == 0:
        frames = [body]
    elif code == 1:
        if len(body) % 2:
            raise ValueError(
                "code-1 packet length must split into two equal "
                "frames (R3)")
        half = len(body) // 2
        frames = [body[:half], body[half:]]
    elif code == 2:
        n1, at = read_len(body, 0)
        if n1 > len(body) - at:
            raise ValueError("code-2 first frame overruns (R4)")
        frames = [body[at: at + n1], body[at + n1:]]
    else:
        if not body:
            raise ValueError("code-3 packet without a frame-count "
                             "byte (R6)")
        fc = body[0]
        vbr = (fc >> 7) & 1
        padded = (fc >> 6) & 1
        m = fc & 0x3F
        if m == 0:
            raise ValueError("code-3 frame count 0 (R5)")
        at = 1
        pad = 0
        if padded:
            while True:
                if at >= len(body):
                    raise ValueError("code-3 padding truncated")
                p = body[at]
                at += 1
                if p == 255:
                    pad += 254
                else:
                    pad += p
                    break
        avail = len(body) - at - pad
        if avail < 0:
            raise ValueError("code-3 padding overruns the packet")
        if vbr:
            lens = []
            for _ in range(m - 1):
                ln, at = read_len(body, at)
                lens.append(ln)
            avail = len(body) - at - pad
            if sum(lens) > avail:
                raise ValueError("code-3 VBR frames overrun (R7)")
            frames = []
            for ln in lens:
                frames.append(body[at: at + ln])
                at += ln
            frames.append(body[at: len(body) - pad])
        else:
            if avail % m:
                raise ValueError(
                    "code-3 CBR payload must split evenly (R6)")
            each = avail // m
            frames = [body[at + i * each: at + (i + 1) * each]
                      for i in range(m)]
    spf = _config_samples(config)
    if spf * len(frames) > 5760:
        raise ValueError("packet exceeds 120 ms of audio (R5)")
    return {"config": config, "mode": _config_mode(config),
            "stereo": bool(stereo), "samples_per_frame": spf,
            "frames": frames}


def build_packet(config: int, stereo: bool, frames: list) -> bytes:
    """Inverse of :func:`parse_packet` for the engine encoder:
    code 0/1 for 1-2 equal-length frames, code 3 VBR otherwise."""
    toc = (config << 3) | ((1 if stereo else 0) << 2)
    if len(frames) == 1:
        return bytes([toc | 0]) + frames[0]
    if len(frames) == 2 and len(frames[0]) == len(frames[1]):
        return bytes([toc | 1]) + frames[0] + frames[1]

    def enc_len(n: int) -> bytes:
        if n < 252:
            return bytes([n])
        return bytes([252 + (n - 252) % 4, (n - 252) // 4])

    out = bytearray([toc | 3, 0x80 | len(frames)])
    for f in frames[:-1]:
        out += enc_len(len(f))
    for f in frames:
        out += f
    return bytes(out)


# ----------------------------------------------------- range coder

_TOP = 1 << 31
_BOT = 1 << 23


class RangeDecoder:
    """§4.1 entropy decoder: 32-bit val/rng, byte renormalization;
    reads past the buffer return zero (§4.1.2)."""

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0
        self.rem = self._byte()
        self.rng = 1 << 7
        self.val = self.rng - 1 - (self.rem >> 1)
        self.nbits = 9      # §4.1.6: 1 + EC_CODE_EXTRA... tracked
        self._norm()

    def _byte(self) -> int:
        b = self.d[self.pos] if self.pos < len(self.d) else 0
        self.pos += 1
        return b

    def _norm(self) -> None:
        while self.rng <= _BOT:
            self.nbits += 8
            self.rng = (self.rng << 8) & 0xFFFFFFFF
            sym = self.rem
            self.rem = self._byte()
            sym = ((sym << 8) | self.rem) >> 1
            self.val = (((self.val << 8) + (255 & ~sym))
                        & (_TOP - 1))

    def decode(self, ft: int) -> int:
        self.ext = self.rng // ft
        s = self.val // self.ext
        return ft - min(s + 1, ft)

    def update(self, fl: int, fh: int, ft: int) -> None:
        s = self.ext * (ft - fh)
        self.val -= s
        self.rng = self.ext * (fh - fl) if fl > 0 else self.rng - s
        self._norm()

    def bit_logp(self, logp: int) -> int:
        r = self.rng
        d = self.val
        s = r >> logp
        ret = 1 if d < s else 0
        if not ret:
            self.val = d - s
        self.rng = s if ret else r - s
        self._norm()
        return ret

    def icdf(self, table, ftb: int) -> int:
        s = self.rng
        d = self.val
        r = s >> ftb
        ret = -1
        while True:
            ret += 1
            t = s
            s = r * table[ret]
            if d >= s:
                break
        self.val = d - s
        self.rng = t - s
        self._norm()
        return ret


class RangeEncoder:
    """§4.1 entropy encoder with carry propagation; the exact
    inverse of :class:`RangeDecoder` (pinned by round-trip and hand
    traces)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.val = 0
        self.rng = _TOP
        self.rem = -1
        self.ext = 0

    def _carry_out(self, c: int) -> None:
        if c != 255:
            carry = c >> 8
            if self.rem >= 0:
                self.out.append((self.rem + carry) & 0xFF)
            while self.ext > 0:
                self.out.append((255 + carry) & 0xFF)
                self.ext -= 1
            self.rem = c & 255
        else:
            self.ext += 1

    def _norm(self) -> None:
        while self.rng <= _BOT:
            self._carry_out(self.val >> 23)
            self.val = (self.val << 8) & (_TOP - 1)
            self.rng = (self.rng << 8) & 0xFFFFFFFF

    def encode(self, fl: int, fh: int, ft: int) -> None:
        r = self.rng // ft
        if fl > 0:
            self.val += self.rng - r * (ft - fl)
            self.rng = r * (fh - fl)
        else:
            self.rng -= r * (ft - fh)
        self._norm()

    def bit_logp(self, bit: int, logp: int) -> None:
        r = self.rng
        s = r >> logp
        if bit:
            self.val += r - s
            self.rng = s
        else:
            self.rng = r - s
        self._norm()

    def done(self) -> bytes:
        lg = 32
        r = self.rng
        while r:
            r >>= 1
            lg -= 1
        # lg = 32 - ilog(rng)
        msk = (_TOP - 1) >> lg
        end = (self.val + msk) & ~msk
        if (end | msk) >= self.val + self.rng:
            lg += 1
            msk >>= 1
            end = (self.val + msk) & ~msk
        while lg > 0:
            self._carry_out(end >> 23)
            end = (end << 8) & (_TOP - 1)
            lg -= 8
        if self.rem >= 0 or self.ext > 0:
            self._carry_out(0)
        return bytes(self.out)


# ------------------------------------------------------- CELT frames


def decode_frame(frame: bytes, config: int, channels: int) -> list:
    """One Opus frame -> per-channel 48 kHz PCM lists. The CELT
    silence flag (§4.3.1, logp 15) is the table-free operating
    point; everything past it is seam/scope-gated."""
    mode = _config_mode(config)
    if mode != "celt":
        raise NotImplementedError(
            f"Opus {mode} mode (config {config}) — the SILK layer "
            "(LPC/LTP synthesis) is the remaining decode scope; "
            "CELT-only packets decode")
    n = _config_samples(config)
    dec = RangeDecoder(frame)
    silence = dec.bit_logp(15)
    if silence:
        return [[0.0] * n for _ in range(channels)]
    if not seam_available():
        raise NotImplementedError(
            "non-silent CELT frame needs the static tables (eBands "
            "+ band allocation) — inject load_opus_tables or "
            f"${_TABLES_ENV}")
    raise NotImplementedError(
        "non-silent CELT decode (post-filter, coarse/fine energy, "
        "PVQ band shapes) — the silence flag, TOC layer and range "
        "coder are implemented; this is the staged r12 boundary")


# ------------------------------------------------------- Ogg mapping


def parse_opus_head(p: bytes) -> dict:
    if p[:8] != b"OpusHead" or len(p) < 19:
        raise ValueError("malformed OpusHead")
    version = p[8]
    if version >> 4 != 0:
        raise ValueError(f"OpusHead version {version} unsupported")
    channels = p[9]
    pre_skip, rate = struct.unpack("<HI", p[10:16])
    gain = struct.unpack("<h", p[16:18])[0]
    family = p[18]
    if family not in (0, 1):
        raise NotImplementedError(
            f"Opus channel mapping family {family} — families 0/1 "
            "only")
    if family == 0 and channels > 2:
        raise ValueError("mapping family 0 allows 1..2 channels")
    return {"channels": channels, "pre_skip": pre_skip,
            "input_rate": rate, "gain": gain, "family": family}


def opus_decode(ogg_bytes: bytes):
    """Ogg-Opus file -> (48000, channels, [channel PCM lists]) for
    the first Opus logical stream, pre-skip trimmed (RFC 7845)."""
    from data_migration_etl_scripts_spark.operators.ogg import (
        ogg_packets,
    )

    for serial, pkts in ogg_packets(ogg_bytes).items():
        if not pkts or pkts[0][:8] != b"OpusHead":
            continue
        head = parse_opus_head(pkts[0])
        nch = head["channels"]
        if len(pkts) < 2 or pkts[1][:8] != b"OpusTags":
            raise ValueError("OpusTags packet missing")
        chans: list[list[float]] = [[] for _ in range(nch)]
        for pkt in pkts[2:]:
            info = parse_packet(pkt)
            for fr in info["frames"]:
                dec = decode_frame(fr, info["config"], nch)
                for ci in range(nch):
                    chans[ci] += dec[ci]
        skip = head["pre_skip"]
        return 48000, nch, [ch[skip:] for ch in chans]
    raise ValueError("no Opus stream in the Ogg file")


def opus_encode_silence(frames: int = 4, config: int = 31,
                        channels: int = 1,
                        frames_per_packet: int = 1,
                        pre_skip: int = 0) -> bytes:
    """Engine operating point: an Ogg-Opus stream of CELT silence
    frames (each = one range-coded silence flag at logp 15) —
    decodes to zeros with ZERO tables on either side, and exercises
    OpusHead/OpusTags, the TOC codes, and the range-coder round
    trip."""
    from data_migration_etl_scripts_spark.operators.ogg import _page

    if _config_mode(config) != "celt":
        raise ValueError("engine silence frames are CELT-only")
    enc = RangeEncoder()
    enc.bit_logp(1, 15)
    payload = enc.done()
    spf = _config_samples(config)
    pkts = []
    left = frames
    while left > 0:
        k = min(frames_per_packet, left)
        pkts.append(build_packet(config, channels == 2,
                                 [payload] * k))
        left -= k
    head = (b"OpusHead" + bytes([1, channels])
            + struct.pack("<HIh", pre_skip, 48000, 0) + b"\x00")
    tags = (b"OpusTags" + struct.pack("<I", 4) + b"eng"
            + b"\x00" + struct.pack("<I", 0))
    serial = 0x09B5
    out = bytearray()
    out += _page(2, 0, serial, 0, [head], [len(head)])
    out += _page(0, 0, serial, 1, [tags], [len(tags)])
    granule = pre_skip
    for i, pkt in enumerate(pkts):
        info = parse_packet(pkt)
        granule += info["samples_per_frame"] * len(info["frames"])
        laces = [255] * (len(pkt) // 255) + [len(pkt) % 255]
        htype = 4 if i == len(pkts) - 1 else 0
        out += _page(htype, granule, serial, 2 + i, [pkt], laces)
    return bytes(out)
