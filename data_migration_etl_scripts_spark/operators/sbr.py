"""HE-AAC v1 Spectral Band Replication (ISO/IEC 14496-3 clause
4.6.18) — the SBR tool that reconstructs the high band of an AAC-LC
core coded at half rate, doubling the output sample rate. Decodes the
``sbr_extension_data`` FIL extension payload (EXT_SBR_DATA 13 /
EXT_SBR_DATA_CRC 14) that ``operators/aac.py`` routes here (r11;
previously the payload was skipped and HE-AAC played as the half-rate
LC core).

Reference parity note: the reference ETL repo has no media handling;
this exists for the LLM-data-pipeline addendum (audio decode over
binary columns). Crawled AAC is frequently HE-AAC v1/v2, which made
this the top remaining audio gap (round-10 verdict "what's missing
#4").

Build-vs-seam split (the repo's standing codec policy):

STRUCTURAL (formula-level, built here):
  - bitstream parse: sbr_header, SCE/CPE data incl. channel coupling,
    the four frame classes (FIXFIX/FIXVAR/VARFIX/VARVAR) with border
    and pointer derivation, dt/df coded envelopes and noise floors
    (with the cross-resolution delta-time mapping), inverse-filtering
    modes, add-harmonic flags, extended data (PS raises namefully)
  - frequency band tables: master table for bs_freq_scale 0 (linear,
    alter_scale step) and 1/2/3 (log-spaced regions with the 1.3
    warp), high/low resolution split, noise bands, limiter bands,
    patch construction (the 2.048 MHz goal rule)
  - the 32-band analysis / 64-band synthesis complex QMF pair as the
    polyphase form of their defining double sums (each pinned against
    a naive direct evaluation of that sum in the tests)
  - HF generation: per-patch transposition with second-order complex
    covariance LPC inverse filtering and chirp-factor smoothing
  - envelope adjustment: mapped target/noise energies, gain with the
    limiter (per-band max gain + energy-compensating boost cap),
    noise filling from the seam noise table, sinusoid addition with
    the alternating (+1, +j) phase rule, gain smoothing

ANNEX-B SEAM DATA (tabulated, injected — never recalled):
  ``load_sbr_tables`` / ``$SPARK_GRAFT_SBR_TABLES`` JSON with keys:
  - "qmf_window": the 640-tap prototype filter (Table 4.A.87)
  - "noise": 512 [re, im] pairs (Table 4.A.88)
  - "huff": mapping of book name -> [[value, "bits"], ...] for the
    envelope/noise delta books: t_env_15/f_env_15/t_env_30/f_env_30,
    their _bal variants, t_noise_30, t_noise_bal_30 (the noise
    delta-f direction reuses the 3.0 dB envelope f-books)
  - "start_freq_map"/"stop_freq_map": per output-rate k0/k2 vectors
    indexed by bs_start_freq (16) / bs_stop_freq (14) — the spec's
    startMin/stopMin offset-table derivation collapsed to its result
  - "invf_bw": 4 chirp factors per bs_invf_mode (0 .. 3)
  - "limiter_gains": 4 limiter gain factors per bs_limiter_gains
  - "smooth_window": the gain-smoothing filter taps (length 5)

CONFORMANCE STANDING: the structure is reconstructed from the
published spec layout; the engine operating point
(:func:`aac.aac_encode_sbr` replaying this decoder) keeps both sides
bit-identical, the QMF pair is pinned against naive evaluations of
its defining sums, and band-table/grid corners carry hand-computed
pins — but decoding a REAL foreign HE-AAC stream additionally needs
the genuine tables plus a foreign fixture ($SPARK_GRAFT_SBR_FIXTURE
harness pattern applies).
PS (HE-AAC v2) raises namefully at the extension id.
"""

from __future__ import annotations

import cmath
import json
import math
import os

__all__ = ["load_sbr_tables", "seam_available", "SBR"]

_TABLES_ENV = "SPARK_GRAFT_SBR_TABLES"
_env_load_done = False

SBR: dict = {"qmf_window": None, "noise": None, "huff": {},
             "start_freq_map": None, "stop_freq_map": None,
             "invf_bw": None, "limiter_gains": None,
             "smooth_window": None,
             # Parametric Stereo (r12): delta books + quant grids
             "ps_huff": None, "ps_iid_quant": None,
             "ps_icc_quant": None}

#: PS huffman book names (operators/ps.py)
_PS_BOOKS = ("iid_f_coarse", "iid_t_coarse", "iid_f_fine",
             "iid_t_fine", "icc_f", "icc_t")

#: huffman book names the parser may request
_BOOKS = ("t_env_15", "f_env_15", "t_env_30", "f_env_30",
          "t_env_bal_15", "f_env_bal_15", "t_env_bal_30",
          "f_env_bal_30", "t_noise_30", "t_noise_bal_30")


def load_sbr_tables(source) -> int:
    """Inject SBR seam tables (dict, JSON string, or path). Returns
    the number of table families loaded. See the module docstring for
    the key schema."""
    if isinstance(source, (str, bytes)):
        s = source.decode() if isinstance(source, bytes) else source
        if "{" not in s:
            with open(s, "rb") as f:
                source = json.load(f)
        else:
            source = json.loads(s)
    if not isinstance(source, dict):
        raise ValueError("SBR table source must be a dict/JSON")
    loaded = 0
    w = source.get("qmf_window")
    if w is not None:
        if len(w) != 640:
            raise ValueError("qmf_window must be 640 taps")
        SBR["qmf_window"] = [float(v) for v in w]
        loaded += 1
    nz = source.get("noise")
    if nz is not None:
        if len(nz) != 512:
            raise ValueError("noise must be 512 [re, im] pairs")
        SBR["noise"] = [complex(float(a), float(b)) for a, b in nz]
        loaded += 1
    hf = source.get("huff")
    if hf is not None:
        for name, rows in hf.items():
            if name not in _BOOKS:
                raise ValueError(f"unknown SBR huffman book {name!r}")
            codes = {}
            for val, bits in rows:
                if not bits or any(c not in "01" for c in bits):
                    raise ValueError(f"bad codeword in {name}")
                if bits in codes:
                    raise ValueError(f"duplicate codeword in {name}")
                codes[bits] = int(val)
            for a in codes:
                for b in codes:
                    if a != b and b.startswith(a):
                        raise ValueError(
                            f"book {name} is not prefix-free")
            SBR["huff"][name] = codes
        loaded += 1
    for key, n in (("start_freq_map", 16), ("stop_freq_map", 14)):
        m = source.get(key)
        if m is not None:
            SBR[key] = {int(k): [int(x) for x in v]
                        for k, v in m.items()}
            for v in SBR[key].values():
                if len(v) != n:
                    raise ValueError(f"{key} vectors must have {n} "
                                     "entries")
            loaded += 1
    for key, n in (("invf_bw", 4), ("limiter_gains", 4),
                   ("smooth_window", 5)):
        v = source.get(key)
        if v is not None:
            if len(v) != n:
                raise ValueError(f"{key} must have {n} values")
            SBR[key] = [float(x) for x in v]
            loaded += 1
    ph = source.get("ps_huff")
    if ph is not None:
        out = {}
        for name, rows in ph.items():
            if name not in _PS_BOOKS:
                raise ValueError(f"unknown PS huffman book {name!r}")
            codes = {}
            for val, bits in rows:
                if not bits or any(c not in "01" for c in bits):
                    raise ValueError(f"bad codeword in {name}")
                if bits in codes:
                    raise ValueError(f"duplicate codeword in {name}")
                codes[bits] = int(val)
            for a2 in codes:
                for b2 in codes:
                    if a2 != b2 and b2.startswith(a2):
                        raise ValueError(
                            f"book {name} is not prefix-free")
            out[name] = codes
        SBR["ps_huff"] = out
        loaded += 1
    pq = source.get("ps_iid_quant")
    if pq is not None:
        for key2, n2 in (("coarse", 15), ("fine", 31)):
            vals = pq.get(key2)
            if vals is None or len(vals) != n2:
                raise ValueError(
                    f"ps_iid_quant[{key2!r}] must have {n2} dB "
                    "values")
        SBR["ps_iid_quant"] = {
            k: [float(v) for v in pq[k]]
            for k in ("coarse", "fine")}
        loaded += 1
    pc = source.get("ps_icc_quant")
    if pc is not None:
        if len(pc) != 8:
            raise ValueError("ps_icc_quant must have 8 values")
        SBR["ps_icc_quant"] = [float(v) for v in pc]
        loaded += 1
    return loaded


def _try_env_tables() -> bool:
    global _env_load_done
    if _env_load_done:
        return False
    _env_load_done = True
    src = os.environ.get(_TABLES_ENV)
    if not src:
        return False
    try:
        load_sbr_tables(src)
        return True
    except (OSError, ValueError, json.JSONDecodeError):
        return False


def _need(kind: str):
    t = SBR.get(kind) if kind != "huff" else SBR["huff"]
    if not t and _try_env_tables():
        t = SBR.get(kind) if kind != "huff" else SBR["huff"]
    if not t:
        raise NotImplementedError(
            f"SBR {kind} tables are Annex-B data — "
            "load_sbr_tables({...}) or $SPARK_GRAFT_SBR_TABLES "
            "injects them (module docstring seam note)")
    return t


def seam_available() -> bool:
    keys = ("qmf_window", "noise", "invf_bw", "limiter_gains",
            "smooth_window")
    if not all(SBR.get(k) for k in keys) or not SBR["huff"]:
        _try_env_tables()
    return bool(all(SBR.get(k) for k in keys)
                and all(b in SBR["huff"] for b in _BOOKS))


# ----------------------------------------------------------- bitstream


def _huff_read(r, book: str) -> int:
    codes = _need("huff").get(book)
    if codes is None:
        raise NotImplementedError(
            f"SBR huffman book {book} not loaded — seam data")
    bits = ""
    for _ in range(40):
        bits += "1" if r.u(1) else "0"
        if bits in codes:
            return codes[bits]
    raise ValueError(f"SBR huffman walk exhausted in {book}")


def parse_sbr_header(r) -> dict:
    h = {"amp_res": r.u(1), "start_freq": r.u(4),
         "stop_freq": r.u(4), "xover_band": r.u(3)}
    r.u(2)  # bs_reserved
    extra1 = r.u(1)
    extra2 = r.u(1)
    h.update({"freq_scale": 2, "alter_scale": 1, "noise_bands": 2,
              "limiter_bands": 2, "limiter_gains": 2,
              "interpol_freq": 1, "smoothing_mode": 1})
    if extra1:
        h["freq_scale"] = r.u(2)
        h["alter_scale"] = r.u(1)
        h["noise_bands"] = r.u(2)
    if extra2:
        h["limiter_bands"] = r.u(2)
        h["limiter_gains"] = r.u(2)
        h["interpol_freq"] = r.u(1)
        h["smoothing_mode"] = r.u(1)
    return h


def _parse_grid(r, amp_res: int) -> dict:
    cls = r.u(2)
    if cls == 0:        # FIXFIX
        num_env = 1 << r.u(2)
        if num_env > 4:
            raise ValueError("FIXFIX bs_num_env > 4")
        fr = r.u(1)
        freq_res = [fr] * num_env
        borders = [round(16.0 * i / num_env) for i in range(num_env)]
        borders.append(16)
        pointer = 0
    elif cls in (1, 2):  # FIXVAR / VARFIX
        var_bord = r.u(2)
        num_rel = r.u(2)
        num_env = num_rel + 1
        rel = [2 * r.u(2) + 2 for _ in range(num_rel)]
        ptr_bits = max(1, math.ceil(math.log2(num_env + 1)))
        pointer = r.u(ptr_bits)
        if cls == 1:     # FIXVAR: borders accumulate from the end
            end = 16 + var_bord
            borders = [end]
            for w in rel:
                borders.append(borders[-1] - w)
            borders.append(0)
            borders.reverse()
            freq_res = [0] * num_env
            for i in range(num_env):
                freq_res[num_env - 1 - i] = r.u(1)
        else:            # VARFIX
            start = var_bord
            borders = [start]
            for w in rel:
                borders.append(borders[-1] + w)
            borders.append(16)
            freq_res = [r.u(1) for _ in range(num_env)]
    else:               # VARVAR
        bord0 = r.u(2)
        bord1 = r.u(2)
        nrel0 = r.u(2)
        nrel1 = r.u(2)
        num_env = nrel0 + nrel1 + 1
        if num_env > 5:
            raise ValueError("VARVAR bs_num_env > 5")
        rel0 = [2 * r.u(2) + 2 for _ in range(nrel0)]
        rel1 = [2 * r.u(2) + 2 for _ in range(nrel1)]
        ptr_bits = max(1, math.ceil(math.log2(num_env + 1)))
        pointer = r.u(ptr_bits)
        left = [bord0]
        for w in rel0:
            left.append(left[-1] + w)
        right = [16 + bord1]
        for w in rel1:
            right.append(right[-1] - w)
        right.reverse()
        borders = left + right
        freq_res = [r.u(1) for _ in range(num_env)]
    if any(b < 0 or b > 21 for b in borders) or any(
            borders[i] >= borders[i + 1] for i in range(len(borders) - 1)):
        raise ValueError(f"SBR envelope borders invalid: {borders}")
    # l_A: the envelope at which additional sinusoids may start
    if cls == 0:
        l_a = -1
    elif cls == 2:      # VARFIX: pointer <= 1 signals no sinusoid
        # start (4.6.18.3.3: l_A = pointer - 1 only when pointer > 1)
        l_a = pointer - 1 if pointer > 1 else -1
    else:               # FIXVAR / VARVAR
        l_a = -1 if pointer in (0, 1) else num_env + 1 - pointer
    num_noise = 1 if num_env == 1 else 2
    if num_noise == 1:
        nborders = [borders[0], borders[-1]]
    else:
        if cls == 0:
            mid = borders[num_env // 2]
        elif cls == 2:   # VARFIX middleBorder (4.6.18.3.3):
            # pointer==0 -> t_E[1]; pointer==1 -> t_E[L_E-1]
            if pointer == 0:
                mid = borders[1]
            elif pointer == 1:
                mid = borders[num_env - 1]
            else:
                mid = borders[pointer - 1]
        else:            # FIXVAR / VARVAR: pointer<=1 -> t_E[L_E-1]
            mid = borders[num_env - 1] if pointer in (0, 1) \
                else borders[num_env + 1 - pointer]
        nborders = [borders[0], mid, borders[-1]]
    # FIXFIX single envelope forces the coarse amplitude resolution
    eff_amp = 0 if (cls == 0 and num_env == 1) else amp_res
    return {"class": cls, "num_env": num_env, "freq_res": freq_res,
            "borders": borders, "pointer": pointer, "l_a": l_a,
            "num_noise": num_noise, "noise_borders": nborders,
            "amp_res": eff_amp}


def _parse_dtdf(r, grid: dict) -> dict:
    return {"df_env": [r.u(1) for _ in range(grid["num_env"])],
            "df_noise": [r.u(1) for _ in range(grid["num_noise"])]}


def _env_books(amp_res: int, balance: bool):
    suf = "_15" if amp_res == 0 else "_30"
    mid = "_bal" if balance else ""
    return f"t_env{mid}{suf}", f"f_env{mid}{suf}"


def _parse_envelope(r, grid: dict, bands: dict, balance: bool,
                    prev=None, prev_res=None) -> list:
    """Raw (delta-decoded) envelope scalefactor grid: one list per
    envelope, one value per frequency band of that envelope's
    resolution. Delta-time across a resolution change maps the
    previous envelope's value at the covering band (4.6.18.3.5);
    ``prev``/``prev_res`` seed cross-frame delta-time from the last
    envelope of the previous frame."""
    amp = grid["amp_res"]
    tbook, fbook = _env_books(amp, balance)
    start_bits = (6 if amp else 7) - (1 if balance else 0)
    out = []
    for l, df in enumerate(grid["dtdf"]["df_env"]):
        res = grid["freq_res"][l]
        n = bands["n"][res]
        vals = [0] * n
        if not df:
            vals[0] = r.u(start_bits)
            for i in range(1, n):
                vals[i] = vals[i - 1] + _huff_read(r, fbook)
        else:
            if prev is None:
                raise ValueError("delta-time envelope with no "
                                 "previous envelope in stream")
            for i in range(n):
                base = _map_prev(i, res, prev_res, prev, bands)
                vals[i] = base + _huff_read(r, tbook)
        out.append(vals)
        prev, prev_res = vals, res
    return out


def _map_prev(i: int, res: int, prev_res: int, prev: list,
              bands: dict) -> int:
    """Value of the previous envelope at the band covering band i of
    the current resolution (the spec's delta-time resolution map)."""
    if res == prev_res:
        return prev[i]
    ftab_cur = bands["f"][res]
    ftab_prev = bands["f"][prev_res]
    lo = ftab_cur[i]
    for j in range(len(ftab_prev) - 1):
        if ftab_prev[j] <= lo < ftab_prev[j + 1]:
            return prev[j]
    return prev[-1]


def _parse_noise(r, grid: dict, bands: dict, balance: bool,
                 prev=None) -> list:
    tbook = "t_noise_bal_30" if balance else "t_noise_30"
    fbook = "f_env_bal_30" if balance else "f_env_30"
    out = []
    nq = bands["n_q"]
    # bs_noise_start_value_balance is read with the SAME 5 bits as the
    # mono start (Table 4.63); only the ENVELOPE start shrinks for the
    # balance channel.  The balance <<1 semantics live in dequant.
    start_bits = 5
    for df in grid["dtdf"]["df_noise"]:
        vals = [0] * nq
        if not df:
            vals[0] = r.u(start_bits)
            for i in range(1, nq):
                vals[i] = vals[i - 1] + _huff_read(r, fbook)
        else:
            if prev is None:
                raise ValueError("delta-time noise floor with no "
                                 "previous floor in stream")
            for i in range(nq):
                vals[i] = prev[i] + _huff_read(r, tbook)
        out.append(vals)
        prev = vals
    return out


def parse_sbr_data(r, header: dict, bands: dict, is_cpe: bool,
                   prev_state=None, ps_prev=None) -> dict:
    """sbr_single_channel_element / sbr_channel_pair_element after the
    header. Returns per-channel grids/envelopes/noise/invf plus the
    coupling flag (couched in RAW scalefactor units; dequantization
    happens in the decode stage). ``prev_state`` is a per-channel
    list of (prev_env, prev_res, prev_noise) seeding cross-frame
    delta-time coding."""
    def prev_of(ci):
        if prev_state and ci < len(prev_state) and prev_state[ci]:
            return prev_state[ci]
        return (None, None, None)

    ch_data = []
    if not is_cpe:
        if r.u(1):
            r.u(4)      # bs_data_extra reserved
        g = _parse_grid(r, header["amp_res"])
        g["dtdf"] = _parse_dtdf(r, g)
        invf = [r.u(2) for _ in range(bands["n_q"])]
        pe, pr, pn = prev_of(0)
        env = _parse_envelope(r, g, bands, balance=False,
                              prev=pe, prev_res=pr)
        noise = _parse_noise(r, g, bands, balance=False, prev=pn)
        harm = [0] * bands["n"][1]
        if r.u(1):
            harm = [r.u(1) for _ in range(bands["n"][1])]
        ch_data.append({"grid": g, "invf": invf, "env": env,
                        "noise": noise, "harm": harm})
        coupling = False
    else:
        if r.u(1):
            r.u(4)
            r.u(4)
        coupling = bool(r.u(1))
        g0 = _parse_grid(r, header["amp_res"])
        if coupling:
            g1 = {k: (list(v) if isinstance(v, list) else v)
                  for k, v in g0.items()}
        else:
            g1 = _parse_grid(r, header["amp_res"])
        g0["dtdf"] = _parse_dtdf(r, g0)
        g1["dtdf"] = _parse_dtdf(r, g1)
        invf0 = [r.u(2) for _ in range(bands["n_q"])]
        (pe0, pr0, pn0), (pe1, pr1, pn1) = prev_of(0), prev_of(1)
        if coupling:
            invf1 = list(invf0)
            env0 = _parse_envelope(r, g0, bands, balance=False,
                                   prev=pe0, prev_res=pr0)
            noise0 = _parse_noise(r, g0, bands, balance=False,
                                  prev=pn0)
            env1 = _parse_envelope(r, g1, bands, balance=True,
                                   prev=pe1, prev_res=pr1)
            noise1 = _parse_noise(r, g1, bands, balance=True,
                                  prev=pn1)
        else:
            invf1 = [r.u(2) for _ in range(bands["n_q"])]
            env0 = _parse_envelope(r, g0, bands, balance=False,
                                   prev=pe0, prev_res=pr0)
            env1 = _parse_envelope(r, g1, bands, balance=False,
                                   prev=pe1, prev_res=pr1)
            noise0 = _parse_noise(r, g0, bands, balance=False,
                                  prev=pn0)
            noise1 = _parse_noise(r, g1, bands, balance=False,
                                  prev=pn1)
        for g, invf, env, noise in ((g0, invf0, env0, noise0),
                                    (g1, invf1, env1, noise1)):
            harm = [0] * bands["n"][1]
            if r.u(1):
                harm = [r.u(1) for _ in range(bands["n"][1])]
            ch_data.append({"grid": g, "invf": invf, "env": env,
                            "noise": noise, "harm": harm})
    ps_data = None
    if r.u(1):          # bs_extended_data
        cnt = r.u(4)
        if cnt == 15:
            cnt += r.u(8)
        bits_left = 8 * cnt
        while bits_left > 7:
            ext_id = r.u(2)
            bits_left -= 2
            if ext_id == 2:
                # Parametric Stereo (r12 staged): full ps_data parse
                # + the constant-IID reconstruction operating point
                # (operators/ps.py); hybrid/decorrelator raise there
                from data_migration_etl_scripts_spark.operators \
                    import ps as _ps

                if is_cpe:
                    raise ValueError(
                        "PS extension on a channel pair element")
                ps_data = _ps.parse_ps_data(r, ps_prev)
                bits_left -= ps_data["consumed"]
                if bits_left < 0:
                    raise ValueError(
                        "ps_data overran the SBR extension block")
            skip = bits_left - (bits_left % 8)
            r.pos += skip
            bits_left -= skip
        r.pos += bits_left
    return {"coupling": coupling, "ch": ch_data, "ps": ps_data}


# ------------------------------------------------- frequency band data


def derive_bands(header: dict, fs_out: int) -> dict:
    """Header + output rate -> all frequency band structures: master
    table, high/low resolution tables, noise bands, limiter bands,
    patches. ``k0``/``k2`` come from the seam's start/stop maps (the
    spec's startMin/offset-vector derivation collapsed per rate)."""
    smap = _need("start_freq_map")
    tmap = _need("stop_freq_map")
    if fs_out not in smap or fs_out not in tmap:
        raise NotImplementedError(
            f"SBR start/stop frequency vectors for {fs_out} Hz not "
            "in the injected tables")
    k0 = smap[fs_out][header["start_freq"]]
    k2 = min(64, tmap[fs_out][header["stop_freq"]])
    if k2 <= k0:
        raise ValueError(f"SBR stop band {k2} <= start band {k0}")
    fs_scale = header["freq_scale"]
    if fs_scale == 0:
        dk = 2 if header["alter_scale"] else 1
        nb = 2 * max(1, int((k2 - k0) / (2.0 * dk) + 0.5))
        master = _linear_bands(k0, k2, nb)
    else:
        bands_per_oct = (12, 10, 8)[fs_scale - 1]
        warp = 1.3 if header["alter_scale"] else 1.0
        if k2 / k0 > 2.2449:
            k1 = 2 * k0
            two = True
        else:
            k1 = k2
            two = False
        nb0 = 2 * max(1, int(bands_per_oct *
                             math.log2(k1 / k0) / 2.0 + 0.5))
        d0 = _log_bands(k0, k1, nb0)
        if two:
            nb1 = 2 * max(1, int(bands_per_oct *
                                 math.log2(k2 / k1) / (2.0 * warp)
                                 + 0.5))
            d1 = _log_bands(k1, k2, nb1)
            master = [k0]
            for d in d0 + d1:
                master.append(master[-1] + d)
        else:
            master = [k0]
            for d in d0:
                master.append(master[-1] + d)
    master[-1] = k2
    if any(master[i] >= master[i + 1] for i in range(len(master) - 1)):
        raise ValueError(f"SBR master table not increasing: {master}")
    xover = header["xover_band"]
    if xover >= len(master):
        raise ValueError("bs_xover_band beyond the master table")
    f_high = master[xover:]
    n_high = len(f_high) - 1
    if n_high < 1:
        raise ValueError("empty SBR high-resolution table")
    # low resolution: first edge plus every second edge, with the
    # parity chosen so the LAST edges coincide
    odd = n_high % 2
    f_low = [f_high[0]] + [f_high[i] for i in
                           range(2 - odd, n_high + 1, 2)]
    n_low = len(f_low) - 1
    kx = f_high[0]
    m = f_high[-1] - kx
    # noise bands: round(noise_bands * log2(k2/kx)), floor 1
    nq = max(1, round(header["noise_bands"] * math.log2(k2 / kx))) \
        if header["noise_bands"] else 1
    nq = min(nq, 5, n_low)
    f_noise = [f_low[0]]
    prev_i = 0
    for i in range(1, nq + 1):
        idx = prev_i + (n_low - prev_i) // (nq + 1 - i)
        f_noise.append(f_low[idx])
        prev_i = idx
    patches = _build_patches(master, k0, kx, m, fs_out)
    # limiter bands: patch borders union log-spaced limiter grid
    lim_bands = header["limiter_bands"]
    borders = {0, m}
    acc = 0
    for _, width in patches:
        acc += width
        if 0 < acc < m:
            borders.add(acc)
    if lim_bands:
        lim_count = max(1, round(lim_bands * 2.0 * math.log2(
            (kx + m) / kx)))
        for i in range(1, lim_count):
            borders.add(int((kx + m) *
                            (kx / (kx + m)) **
                            (1.0 - i / lim_count) + 0.5) - kx)
    f_lim = sorted(b for b in borders if 0 <= b <= m)
    return {"master": master, "f": {1: f_high, 0: f_low},
            "n": {1: n_high, 0: n_low}, "kx": kx, "m": m,
            "k0": k0, "k2": k2, "n_q": nq, "f_noise": f_noise,
            "patches": patches, "f_lim": f_lim}


def _linear_bands(k0: int, k2: int, nb: int) -> list:
    """Evenly spread nb integer steps over [k0, k2] (freq_scale 0)."""
    edges = [k0 + round((k2 - k0) * i / nb) for i in range(nb + 1)]
    return edges


def _log_bands(lo: int, hi: int, nb: int) -> list:
    """Sorted strictly-positive integer step widths of a geometric
    band split covering exactly hi - lo (narrow bands first, the
    spec's ascending vDk ordering). The band count is clamped to the
    available integer lines, so even degenerate synthetic ranges
    yield a valid split."""
    nb = max(1, min(nb, hi - lo))
    real = [lo * (hi / lo) ** ((i + 1.0) / nb)
            - lo * (hi / lo) ** (i / nb) for i in range(nb)]
    w = [max(1, round(v)) for v in real]
    w.sort()
    diff = (hi - lo) - sum(w)
    i = nb - 1
    while diff:
        step = 1 if diff > 0 else -1
        if w[i] + step >= 1:
            w[i] += step
            diff -= step
        i = i - 1 if i > 0 else nb - 1
    w.sort()
    return w


def _build_patches(master: list, k0: int, kx: int, m: int,
                   fs_out: int) -> list:
    """Patch table (4.6.18.6.3): list of (source_start, width) whose
    widths sum to M; each patch transposes source bands [start,
    start+width) up to the running target edge."""
    goal = round(2.048e6 / fs_out)
    if goal >= kx + m:
        k = len(master) - 1
    else:
        k = 0
        for i, f in enumerate(master):
            if f <= goal:
                k = i
    patches = []
    msb = k0
    usb = kx
    guard = 0
    while usb < kx + m:
        guard += 1
        if guard > 6:
            raise ValueError(
                "SBR patch construction needs more than the spec's "
                "six patches — inconsistent header frequency ranges")
        j = k + 1
        sb = master[min(j, len(master) - 1)]
        while True:
            j -= 1
            sb = master[j]
            odd = (sb - 2 + k0) % 2
            if sb <= k0 - 1 + msb - odd or j == 0:
                break
        width = max(sb - usb, 0)
        start = k0 - odd - width
        if width > 0:
            if start < 1:
                raise ValueError("SBR patch source below band 1")
            patches.append((start, width))
            usb = sb
            msb = sb
        else:
            msb = kx
        if len(master) - 1 - j < 3:
            k = len(master) - 1
    return patches


# ----------------------------------------------------------------- QMF


class QmfAnalysis32:
    """32-band complex analysis QMF over the half-rate core signal
    (4.6.18.4): 320-sample FIFO, the 640-tap prototype decimated by
    two, five-tap polyphase fold, complex modulation
    exp(j*pi/64*(k+0.5)*(2n-1)). One call consumes 32 samples and
    yields the 32 complex subband samples of one QMF slot."""

    def __init__(self) -> None:
        win = _need("qmf_window")
        self.c = [win[2 * n] for n in range(320)]
        self.x = [0.0] * 320
        self.mod = [[cmath.exp(1j * math.pi / 64.0 * (k + 0.5)
                               * (2 * n - 1))
                     for n in range(64)] for k in range(32)]

    def step(self, samples: list) -> list:
        if len(samples) != 32:
            raise ValueError("QMF analysis consumes 32 samples")
        self.x = samples[::-1] + self.x[:-32]
        z = [self.x[n] * self.c[n] for n in range(320)]
        u = [z[n] + z[n + 64] + z[n + 128] + z[n + 192] + z[n + 256]
             for n in range(64)]
        return [sum(u[n] * self.mod[k][n] for n in range(64))
                for k in range(32)]


class QmfSynthesis64:
    """64-band synthesis QMF (4.6.18.4.3): 1280-sample FIFO, complex
    demodulation exp(j*pi/128*(k+0.5)*(2n-255)), prototype windowing
    with the standard 10-segment index shuffle. One call consumes one
    slot of 64 complex subbands and yields 64 time samples."""

    def __init__(self) -> None:
        self.c = _need("qmf_window")
        self.v = [0.0] * 1280
        self.mod = [[cmath.exp(1j * math.pi / 128.0 * (k + 0.5)
                               * (2 * n - 255))
                     for n in range(128)] for k in range(64)]

    def step(self, bands: list) -> list:
        if len(bands) != 64:
            raise ValueError("QMF synthesis consumes 64 subbands")
        self.v = [0.0] * 128 + self.v[:-128]
        for n in range(128):
            acc = 0.0
            for k in range(64):
                x = bands[k]
                if x:
                    m = self.mod[k][n]
                    acc += x.real * m.real - x.imag * m.imag
            self.v[n] = acc / 64.0
        g = [0.0] * 640
        for j in range(5):
            for n in range(64):
                g[128 * j + n] = self.v[256 * j + n]
                g[128 * j + 64 + n] = self.v[256 * j + 192 + n]
        out = [0.0] * 64
        for n in range(64):
            acc = 0.0
            for j in range(10):
                acc += g[64 * j + n] * self.c[64 * j + n]
            out[n] = acc
        return out


# -------------------------------------------------------- HF generator


def _lpc2(x: list, t0: int, t1: int):
    """Second-order complex covariance LPC over subband slots
    [t0, t1) of one low-band sequence (list of complex, indexable at
    t0-2). Returns (a0, a1), zeroed when unstable (|a| >= 4)."""
    def phi(i, j):
        return sum(x[n - i] * (x[n - j].conjugate())
                   for n in range(t0, t1))

    p01 = phi(0, 1)
    p02 = phi(0, 2)
    p11 = phi(1, 1)
    p12 = phi(1, 2)
    p22 = phi(2, 2)
    d = p22 * p11 - (abs(p12) ** 2) / (1.0 + 1e-6)
    a1 = (p01 * p12 - p02 * p11) / d if d else 0.0
    a0 = -(p01 + a1 * p12.conjugate()) / p11 if p11 else 0.0
    if abs(a0) >= 4.0 or abs(a1) >= 4.0:
        return 0.0, 0.0
    return a0, a1


def hf_generate(xlow, bands: dict, invf: list, prev_bw: list,
                t0: int, t1: int):
    """Patch the low band up (4.6.18.6): for every patch and source
    band, X_high[target] = chirped two-tap LPC extension of the
    source sequence over slots [t0, t1). ``xlow`` is indexed
    [slot][band] with two history slots before t0. Returns (xhigh as
    {target_band: list over slots}, new per-noise-band bw array)."""
    bw_tab = _need("invf_bw")
    bw = []
    for q, mode in enumerate(invf):
        nb = bw_tab[mode]
        pv = prev_bw[q] if q < len(prev_bw) else 0.0
        if nb < pv:
            b = 0.75 * nb + 0.25 * pv
        else:
            b = 0.90625 * nb + 0.09375 * pv
        bw.append(0.0 if b < 0.015625 else b)
    kx = bands["kx"]
    out = {}
    target = kx
    for start, width in bands["patches"]:
        for q in range(width):
            src = start + q
            seq = [xlow[t][src] for t in range(len(xlow))]
            a0, a1 = _lpc2(seq, t0, t1)
            noise_band = _noise_band_of(bands, target)
            b = bw[noise_band]
            vals = []
            for t in range(t0, t1):
                v = seq[t]
                if b:
                    v = (seq[t] + b * a0 * seq[t - 1]
                         + b * b * a1 * seq[t - 2])
                vals.append(v)
            out[target] = vals
            target += 1
    return out, bw


def _noise_band_of(bands: dict, k: int) -> int:
    fn = bands["f_noise"]
    for i in range(len(fn) - 1):
        if fn[i] <= k < fn[i + 1]:
            return i
    return len(fn) - 2


# ---------------------------------------------------- envelope adjust


def dequant_env(env_raw: list, grid: dict) -> list:
    a = 1.0 if grid["amp_res"] else 0.5
    return [[2.0 ** (v * a + 6.0) for v in row] for row in env_raw]


def dequant_noise(noise_raw: list) -> list:
    return [[2.0 ** (6.0 - v) for v in row] for row in noise_raw]


def decouple(env0, env1, noise0, noise1, grid0):
    """Channel coupling (4.6.18.7.2): channel 0 carries the sum
    scalefactors, channel 1 the balance (pan centre 12 in balance
    code units); both dequantize to per-channel linear energies —
    the +1 in the base exponent is the spec's factor two, so equal
    balance splits the sum energy evenly. Raw units in, linear out."""
    a = 1.0 if grid0["amp_res"] else 0.5
    e0, e1 = [], []
    for row0, row1 in zip(env0, env1):
        r0, r1 = [], []
        for s, b in zip(row0, row1):
            base = 2.0 ** (s * a + 7.0)
            r0.append(base / (1.0 + 2.0 ** ((12.0 - b) * a)))
            r1.append(base / (1.0 + 2.0 ** ((b - 12.0) * a)))
        e0.append(r0)
        e1.append(r1)
    q0, q1 = [], []
    for row0, row1 in zip(noise0, noise1):
        r0, r1 = [], []
        for s, b in zip(row0, row1):
            base = 2.0 ** (7.0 - s)
            r0.append(base / (1.0 + 2.0 ** (12.0 - b)))
            r1.append(base / (1.0 + 2.0 ** (b - 12.0)))
        q0.append(r0)
        q1.append(r1)
    return e0, e1, q0, q1


class SbrChannel:
    """Cross-frame SBR state for one channel: QMF filterbank FIFOs,
    two slots of low-band history for the covariance LPC, the chirp
    smoothing memory, the noise/sine phase indices, the gain
    smoothing history, and the previous frame's last envelope/noise
    vectors for delta-time coding."""

    def __init__(self) -> None:
        self.ana = QmfAnalysis32()
        self.syn = QmfSynthesis64()
        self.hist = [[0j] * 32, [0j] * 32]
        self.bw: list = []
        self.noise_idx = 0
        self.sine_idx = 0
        self.gain_hist: dict = {}
        self.prev_env = None
        self.prev_env_res = None
        self.prev_noise = None
        #: envelope parameters spilled past the frame boundary by a
        #: VAR grid (r12): consumed by the next frame's leading gap
        self.spill = None


def process_frame(st: SbrChannel, core: list, header: dict,
                  bands: dict, ch: dict, env_lin: list,
                  noise_lin: list, ps_slots=None, syn_r=None):
    """One channel, one frame: 1024 half-rate core samples + parsed
    SBR channel data -> 2048 full-rate samples (32-band analysis, HF
    generation, envelope adjustment, 64-band synthesis). VAR grids
    whose borders cross the frame boundary decode (r12): the last
    envelope's parameters spill forward via the channel state and
    the next frame's leading gap consumes them at the exact absolute
    slots (see _frame_segments for the one documented caveat)."""
    if len(core) != 1024:
        raise ValueError("SBR core frame must be 1024 samples")
    xlow = list(st.hist)
    for i in range(32):
        xlow.append(st.ana.step(core[32 * i: 32 * i + 32]))
    xhigh, st.bw = hf_generate(xlow, bands, ch["invf"], st.bw, 2, 34)
    segments, st.spill = _frame_segments(ch, env_lin, noise_lin,
                                         st.spill)
    st.noise_idx, st.sine_idx = adjust(
        xhigh, ch, bands, env_lin, noise_lin, 0, st.noise_idx,
        header, st.sine_idx, st.gain_hist, segments=segments)
    kx = bands["kx"]
    m = bands["m"]
    out = []
    out_r = [] if ps_slots is not None else None
    for t in range(32):
        slot = [0j] * 64
        for k in range(min(kx, 32)):
            slot[k] = xlow[t + 2][k]
        for k in range(m):
            if kx + k < 64:
                slot[kx + k] = xhigh[kx + k][t]
        if ps_slots is None:
            out += st.syn.step(slot)
        else:
            # PS (r12): the mono QMF matrix splits into two scaled
            # copies BEFORE synthesis, so per-envelope mixing changes
            # land at QMF-slot granularity like the spec's H
            # interpolation (a time-domain scale would smear across
            # the 640-tap synthesis window)
            cl, cr = ps_slots[t]
            out += st.syn.step([v * cl for v in slot])
            out_r += syn_r.step([v * cr for v in slot])
    st.hist = xlow[-2:]
    if ps_slots is not None:
        return out, out_r
    return out


# --------------------------------------------------- bitstream writer


def _huff_write(w, book: str, val: int) -> None:
    codes = _need("huff").get(book)
    if codes is None:
        raise NotImplementedError(f"SBR huffman book {book} not "
                                  "loaded — seam data")
    for bits, v in codes.items():
        if v == val:
            for c in bits:
                w.u(1 if c == "1" else 0, 1)
            return
    raise ValueError(f"delta {val} not codable by SBR book {book}")


def write_sbr_header(w, header: dict) -> None:
    w.u(header["amp_res"], 1)
    w.u(header["start_freq"], 4)
    w.u(header["stop_freq"], 4)
    w.u(header["xover_band"], 3)
    w.u(0, 2)
    w.u(1, 1)   # header_extra_1
    w.u(1, 1)   # header_extra_2
    w.u(header["freq_scale"], 2)
    w.u(header["alter_scale"], 1)
    w.u(header["noise_bands"], 2)
    w.u(header["limiter_bands"], 2)
    w.u(header["limiter_gains"], 2)
    w.u(header["interpol_freq"], 1)
    w.u(header["smoothing_mode"], 1)


def write_sbr_sce(w, header: dict, bands: dict, num_env: int,
                  freq_res: int, env_vals: list, noise_vals: list,
                  invf_mode: int, ps_iid=None,
                  ps_iid_mode: int = 0) -> None:
    """FIXFIX single-channel SBR data: ``env_vals`` is one raw
    scalefactor list per envelope (delta-f coded through the injected
    books), ``noise_vals`` one list per noise floor. The writer walks
    the exact parse order, so parse(write(x)) == x by construction."""
    w.u(0, 1)                 # bs_data_extra
    w.u(0, 2)                 # FIXFIX
    tmp = {1: 0, 2: 1, 4: 2}.get(num_env)
    if tmp is None:
        raise ValueError("FIXFIX num_env must be 1, 2 or 4")
    w.u(tmp, 2)
    w.u(freq_res, 1)
    amp = 0 if num_env == 1 else header["amp_res"]
    for _ in range(num_env):
        w.u(0, 1)             # df_env = 0 (delta-f)
    for _ in range(1 if num_env == 1 else 2):
        w.u(0, 1)             # df_noise = 0
    for _ in range(bands["n_q"]):
        w.u(invf_mode, 2)
    fbook = _env_books(amp, False)[1]
    start_bits = 6 if amp else 7
    for vals in env_vals:
        if len(vals) != bands["n"][freq_res]:
            raise ValueError("envelope band count mismatch")
        w.u(vals[0], start_bits)
        for i in range(1, len(vals)):
            _huff_write(w, fbook, vals[i] - vals[i - 1])
    for vals in noise_vals:
        if len(vals) != bands["n_q"]:
            raise ValueError("noise band count mismatch")
        w.u(vals[0], 5)
        for i in range(1, len(vals)):
            _huff_write(w, "f_env_30", vals[i] - vals[i - 1])
    w.u(0, 1)                 # bs_add_harmonic_flag
    if ps_iid is None:
        w.u(0, 1)             # bs_extended_data
        return
    # extended data block carrying one ps_data payload (ext id 2)
    tmp = type(w)()
    nbits = _write_ps_data(tmp, ps_iid, ps_iid_mode)
    cnt = (2 + nbits + 7) // 8
    if cnt >= 15:
        raise ValueError("engine ps_data payload too large")
    w.u(1, 1)                 # bs_extended_data
    w.u(cnt, 4)
    w.u(2, 2)                 # extension id: PS
    w.bits.extend(tmp.bits)
    w.bits.extend([0] * (8 * cnt - 2 - nbits))


def write_sbr_sce_grid(w, header: dict, bands: dict, grid_spec,
                       env_vals: list, noise_vals: list,
                       invf_mode: int) -> None:
    """SCE SBR data with an explicit FIXVAR/VARFIX grid (r12 —
    the cross-frame border operating point). ``grid_spec`` =
    {"class": "fixvar"|"varfix", "var_bord", "rel" (widths, each in
    {2,4,6,8}), "pointer", "freq_res"}; ``env_vals`` one delta-f
    row per envelope at its resolution, ``noise_vals`` one row per
    floor."""
    w.u(0, 1)                 # bs_data_extra
    cls = grid_spec["class"]
    rel = grid_spec["rel"]
    num_env = len(rel) + 1
    fr = grid_spec["freq_res"]
    ptr_bits = max(1, math.ceil(math.log2(num_env + 1)))
    w.u(1 if cls == "fixvar" else 2, 2)
    w.u(grid_spec["var_bord"], 2)
    w.u(len(rel), 2)
    for width in rel:
        w.u((width - 2) // 2, 2)
    w.u(grid_spec.get("pointer", 0), ptr_bits)
    if cls == "fixvar":       # freq_res is written REVERSED
        for v in reversed(fr):
            w.u(v, 1)
    else:
        for v in fr:
            w.u(v, 1)
    num_noise = 1 if num_env == 1 else 2
    for _ in range(num_env):
        w.u(0, 1)             # df_env = 0
    for _ in range(num_noise):
        w.u(0, 1)             # df_noise = 0
    for _ in range(bands["n_q"]):
        w.u(invf_mode, 2)
    amp = header["amp_res"]   # VAR classes keep the header amp_res
    fbook = _env_books(amp, False)[1]
    start_bits = 6 if amp else 7
    for l, vals in enumerate(env_vals):
        if len(vals) != bands["n"][fr[l]]:
            raise ValueError("envelope band count mismatch")
        w.u(vals[0], start_bits)
        for i in range(1, len(vals)):
            _huff_write(w, fbook, vals[i] - vals[i - 1])
    for vals in noise_vals:
        if len(vals) != bands["n_q"]:
            raise ValueError("noise band count mismatch")
        w.u(vals[0], 5)
        for i in range(1, len(vals)):
            _huff_write(w, "f_env_30", vals[i] - vals[i - 1])
    w.u(0, 1)                 # bs_add_harmonic_flag
    w.u(0, 1)                 # bs_extended_data


def _write_ps_data(w, iid_idx: int, iid_mode: int = 0) -> int:
    """Engine ps_data payload (operators/ps.py parses it): full
    header, FIX frame class, ONE envelope of constant IID indices
    (freq-differential: first delta = idx, rest zero) through the
    injected ps_huff books. Returns the bit count written."""
    books = SBR.get("ps_huff") or {}
    name = "iid_f_coarse" if iid_mode < 3 else "iid_f_fine"
    book = books.get(name)
    if book is None:
        raise NotImplementedError(
            f"PS huffman book {name!r} not injected "
            "(load_sbr_tables ps_huff)")
    rev = {v: k for k, v in book.items()}
    start = len(w.bits)
    w.u(1, 1)       # bs_enable_ps_header
    w.u(1, 1)       # bs_enable_iid
    w.u(iid_mode, 3)
    w.u(0, 1)       # bs_enable_icc
    w.u(0, 1)       # bs_enable_ext
    w.u(0, 1)       # bs_frame_class FIX
    w.u(1, 2)       # bs_num_env_idx 1 -> num_env 1
    w.u(0, 1)       # bs_iid_dt = 0 (freq differential)
    nr = (10, 20, 34, 10, 20, 34)[iid_mode]
    for d in [iid_idx] + [0] * (nr - 1):
        code = rev.get(d)
        if code is None:
            raise ValueError(f"IID delta {d} not in book {name}")
        for c in code:
            w.u(int(c), 1)
    return len(w.bits) - start


#: sine phase tables: real and imaginary parts cycle with the QMF
#: slot; the imaginary sign flips on odd absolute subbands
_SINE_RE = (1.0, 0.0, -1.0, 0.0)
_SINE_IM = (0.0, 1.0, 0.0, -1.0)


def _frame_segments(ch: dict, env_lin: list, noise_lin: list,
                    spill):
    """Clamp this frame's envelope grid to its 32 QMF slots (r12):
    a leading ``bs_var_bord`` gap takes the PREVIOUS frame's spilled
    envelope (carried in ``spill``), and a last envelope whose
    border exceeds 16 hands its parameters forward as the new
    spill. Returns (segments, new_spill) with segments =
    [(s0, s1, env_row, res, noise_row, sine_on)].

    Documented caveat (not silent): the current-energy average that
    feeds the gain normalizes per frame-part, where a buffered
    reference decoder averages across the whole boundary-crossing
    envelope — identical for per-band-stationary content (the
    engine operating points), a bounded gain deviation otherwise."""
    grid = ch["grid"]
    borders = grid["borders"]
    nb = grid["noise_borders"]
    l_a = grid["l_a"]
    segs = []
    if borders[0] > 0:
        if spill is None:
            raise ValueError(
                "SBR VAR grid continues a previous frame's envelope "
                "(leading bs_var_bord gap) but no spilled envelope "
                "is pending — truncated or mid-stream start")
        segs.append((0, 2 * borders[0], spill["env"], spill["res"],
                     spill["noise"], spill["sine_on"]))
    new_spill = None
    for l in range(grid["num_env"]):
        b0, b1 = borders[l], borders[l + 1]
        nf = 0
        for i in range(len(nb) - 1):
            if nb[i] <= b0 < nb[i + 1]:
                nf = i
                break
        else:
            nf = len(nb) - 2
        sine_on = l_a >= 0 and l >= l_a
        env_row = env_lin[l]
        res = grid["freq_res"][l]
        noise_row = noise_lin[min(nf, len(noise_lin) - 1)]
        if b0 < 16:
            segs.append((2 * b0, 2 * min(b1, 16), env_row, res,
                         noise_row, sine_on))
        if b1 > 16:
            if l != grid["num_env"] - 1:
                raise ValueError(
                    "only the last SBR envelope may spill past the "
                    "frame boundary")
            new_spill = {"env": env_row, "res": res,
                         "noise": noise_row, "sine_on": sine_on,
                         "slots": 2 * (b1 - 16)}
    return segs, new_spill


def adjust(xhigh: dict, ch: dict, bands: dict, env_lin: list,
           noise_lin: list, t0: int, noise_idx: int, header: dict,
           sine_idx_start: int, gain_hist: dict, segments=None):
    """Envelope adjustment (4.6.18.7): per-envelope, per-QMF-band
    target/current energies, noise ratio mapping, gain with the
    limiter and energy-compensating boost (+2 dB cap), then
    Y = G*X + noise + sines written back into ``xhigh`` in place.

    Implemented gain contract (reconstruction; the engine encoder
    replays it, the foreign-fixture harness pins it against real
    streams once real tables exist): with target energy E_o, current
    energy E_c, noise ratio Q and a sine active flag S —
    ``Q_M = sqrt(E_o * Q / (1+Q))`` always,
    ``S_M = sqrt(E_o / (1+Q))`` when S,
    ``G = E_o / ((1+E_c) * (1+Q))``;
    noise is injected in every band without an active sine. Gain
    smoothing (header smoothing_mode 0) filters each band's gain over
    the four previous slots' applied gains.

    Returns (noise_idx, sine_idx); ``gain_hist`` (band -> recent
    gains) carries across frames like the indices."""
    kx = bands["kx"]
    m = bands["m"]
    noise_v = _need("noise")
    lim_gain = _need("limiter_gains")[header["limiter_gains"]]
    smooth = _need("smooth_window")
    f_high = bands["f"][1]
    sine_present = [0] * m
    for band in range(bands["n"][1]):
        if ch["harm"][band]:
            centre = (f_high[band] + f_high[band + 1]) // 2
            sine_present[centre - kx] = 1
    sidx = sine_idx_start
    if segments is None:
        segments, _unused = _frame_segments(ch, env_lin, noise_lin,
                                            None)
    for (s0, s1, env_row, res, noise_row, sine_on) in segments:
        ftab = bands["f"][res]
        nslots = max(1, s1 - s0)
        # current energy per QMF band over the envelope slots
        e_curr = [0.0] * m
        for k in range(m):
            seq = xhigh.get(kx + k)
            if seq is None:
                continue
            acc = 0.0
            for t in range(s0, s1):
                v = seq[t - t0]
                acc += v.real * v.real + v.imag * v.imag
            e_curr[k] = acc / nslots
        if not header["interpol_freq"]:
            # interpolation off: each envelope band uses its average
            # current energy for every line it covers
            for b in range(len(ftab) - 1):
                lo, hi = ftab[b] - kx, ftab[b + 1] - kx
                avg = sum(e_curr[lo:hi]) / max(1, hi - lo)
                for k in range(lo, hi):
                    e_curr[k] = avg
        # mapped target energy per QMF band
        e_orig = [0.0] * m
        for b in range(len(ftab) - 1):
            val = env_row[b]
            for k in range(ftab[b], ftab[b + 1]):
                e_orig[k - kx] = val
        # mapped noise ratio per QMF band (the segment's floor)
        q_map = [noise_row[_noise_band_of(bands, kx + k)]
                 for k in range(m)]
        # per-band gains and additive component levels
        g = [0.0] * m
        q_m = [0.0] * m
        s_m = [0.0] * m
        for k in range(m):
            eo = e_orig[k]
            q = q_map[k]
            den = (1.0 + e_curr[k]) * (1.0 + q)
            g[k] = math.sqrt(eo / den) if den else 0.0
            q_m[k] = math.sqrt(eo * q / (1.0 + q)) if q else 0.0
            if sine_present[k] and sine_on:
                s_m[k] = math.sqrt(eo / (1.0 + q))
                q_m[k] = 0.0
        # limiter: cap each limiter band's gains at lim_gain times
        # the band's average energy ratio, then boost to restore the
        # band's target energy, capped at 1.584893192 (+2 dB)
        flim = bands["f_lim"]
        for i in range(len(flim) - 1):
            lo, hi = flim[i], flim[i + 1]
            if lo >= hi:
                continue
            sum_o = sum(e_orig[lo:hi]) + 1e-12
            sum_c = sum(e_curr[lo:hi]) + 1e-12
            gmax = min(math.sqrt(sum_o / sum_c) * lim_gain, 1.0e10)
            for k in range(lo, hi):
                if g[k] > gmax:
                    scale = gmax / g[k]
                    g[k] = gmax
                    q_m[k] *= scale
            got = sum(g[k] * g[k] * e_curr[k] + q_m[k] * q_m[k]
                      + s_m[k] * s_m[k]
                      for k in range(lo, hi)) + 1e-12
            boost = min(math.sqrt(sum_o / got), 1.584893192)
            for k in range(lo, hi):
                g[k] *= boost
                q_m[k] *= boost
                s_m[k] *= boost
        # apply per slot with gain smoothing over previous slots
        for t in range(s0, s1):
            for k in range(m):
                seq = xhigh.get(kx + k)
                if seq is None:
                    continue
                hist = gain_hist.get(k)
                if header["smoothing_mode"] == 0 and hist:
                    gs = smooth[0] * g[k]
                    for j in range(4):
                        gs += smooth[j + 1] * (hist[j]
                                               if j < len(hist)
                                               else g[k])
                else:
                    gs = g[k]
                v = seq[t - t0] * gs
                if q_m[k]:
                    noise_idx = (noise_idx + 1) & 511
                    v += q_m[k] * noise_v[noise_idx]
                if s_m[k]:
                    im = _SINE_IM[sidx & 3]
                    if (kx + k) & 1:
                        im = -im
                    v += s_m[k] * complex(_SINE_RE[sidx & 3], im)
                seq[t - t0] = v
            # slot-level gain history for the smoother
            for k in range(m):
                hist = gain_hist.setdefault(k, [])
                hist.insert(0, g[k])
                del hist[4:]
            sidx += 1
    return noise_idx, sidx
